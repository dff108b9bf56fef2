package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextAnalysis}
import graft.sim.Similarity
import graft.util.Tables

/** Driver-checkable bindings of the LLM-data-pipeline operators
  * (SURVEY §2 C-block) onto the `documents` and `embeddings` tables.
  *
  * The dedup corpus injects exact duplicates (every 50th doc copied
  * under doc_id+100000) so exact/near-dup operators have true
  * positives; the oracle derives the identical corpus.
  */
object PipelineQueries {

  private val COS_T = 0.35   // embedding near-dup threshold (see data profile)
  private val JAC_T = 0.7    // minhash verify threshold
  private val NGRAM_T = 0.6  // n-gram jaccard threshold
  private val NGRAM_MAXDF = 100 // shingle df cap (prefix filtering), mirrored in oracle

  /** documents ∪ copies of every 50th doc (ids offset by 100000). */
  def dupCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    d.unionByName(d.filter(expr("doc_id % 50 = 0"))
      .withColumn("doc_id", col("doc_id") + 100000L))
  }

  def dedupExactQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exact(dupCorpus(spark, sfDir), "text", "doc_id")

  /** Per-source duplicate-rate health report (C1n): over the
    * dup-injected corpus, each source's doc count, exact-duplicate
    * doc count (member of a content-hash group of size > 1) and
    * floor-ppm duplication rate — the corpus-health number a crawl
    * operator reads before deciding WHERE to spend dedup budget.
    * One hash partial agg + a key-only join back; no windows.
    */
  def dedupRateBySourceQ(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = dupCorpus(spark, sfDir)
      .select(col("doc_id"), col("source"),
        md5(TextAnalysis.normalize(col("text"))).as("h"))
    val dupHashes = corpus.groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1L).select("h")
    val flagged = corpus.join(dupHashes, Seq("h"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_dup_docs"))
    corpus.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(flagged, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        expr("coalesce(n_dup_docs, 0) * 1000000 DIV n_docs").as("dup_ppm"))
  }

  /** MinHash banding design table (C1m; Dedup.lshTuning) at the
    * production signature width (16 hashes), 5%-jaccard grid. */
  def dedupLshTuningQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Dedup.lshTuning(spark, numHashes = 16, gridStepPpm = 50000L)

  def dedupMinhashQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.minHashLsh(Tables.documents(spark, sfDir), "text", "doc_id",
      numHashes = 16, numBands = 2, threshold = JAC_T)

  def dedupSimhashQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simHash(Dedup.tokenSet(Tables.documents(spark, sfDir), "text", "doc_id"))
      .withColumnRenamed("id", "doc_id")

  def dedupNgramQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.ngramJaccard(
      dupCorpus(spark, sfDir).filter(expr("doc_id % 20 = 0")),
      "text", "doc_id", n = 5, threshold = NGRAM_T, maxDf = NGRAM_MAXDF)

  private val EMB_DIM = Some(64) // embeddings.parquet vector width (TESTDATA.md)

  /** Duplicate clustering: a 4-copy corpus (every 50th doc duplicated
    * at +100k/+200k/+300k) whose dup-pair graph is built as CHAIN
    * edges (consecutive ids per content hash, via window lag) — so the
    * component diameter is ≥ 3 and one hop of labelling is not enough.
    * The oracle derives cluster truth independently:
    * cluster = min(doc_id) per content-hash group of size > 1.
    */
  def dedupClustersQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sfDir)
    val corpus = Seq(100000L, 200000L, 300000L).foldLeft(d) { (acc, off) =>
      acc.unionByName(d.filter(expr("doc_id % 50 = 0"))
        .withColumn("doc_id", col("doc_id") + off))
    }
    val hashed = corpus.select(col("doc_id"),
      md5(TextAnalysis.normalize(col("text"))).as("h"))
    val w = Window.partitionBy("h").orderBy("doc_id")
    val edges = hashed.withColumn("prev", lag(col("doc_id"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
    Dedup.connectedComponents(edges)
      .withColumnRenamed("id", "doc_id")
  }

  /** Same dup-pair graph and cluster truth as `dedup_clusters`, solved
    * by distributed star contraction instead of the driver union-find
    * `connectedComponents` runs on a pair set this small — the two CC
    * paths must agree bit-for-bit against the same oracle.
    */
  def dedupClustersStarQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sfDir)
    val corpus = Seq(100000L, 200000L, 300000L).foldLeft(d) { (acc, off) =>
      acc.unionByName(d.filter(expr("doc_id % 50 = 0"))
        .withColumn("doc_id", col("doc_id") + off))
    }
    val hashed = corpus.select(col("doc_id"),
      md5(TextAnalysis.normalize(col("text"))).as("h"))
    val w = Window.partitionBy("h").orderBy("doc_id")
    val edges = hashed.withColumn("prev", lag(col("doc_id"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
    Dedup.connectedComponentsStar(edges)
      .withColumnRenamed("id", "doc_id")
  }

  def dedupEmbeddingQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.cosinePairs(Tables.embeddings(spark, sfDir), "embedding", "vec_id", COS_T, EMB_DIM)

  /** Graph-based near-dup dedup (Similarity.graphDupPairs →
    * connectedComponents — the ANN↔dedup loop closed, r15 verdict
    * #4): every 50th vector is planted again at +100000, mutual
    * nnDescent k-NN edges with verified cosine ≥ COS_T become the
    * dup-pair graph, and connected components assign each near-dup its
    * keeper. Pairs are subset-of-exact by construction (the spec pins
    * it against `dedup_embedding` truth); the oracle replays the
    * whole chain — nnDescent build, mutuality, threshold, and CC as a
    * recursive reachability CTE.
    */
  def dedupGraphQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.unionByName(e.filter(expr("vec_id % 50 = 0"))
      .withColumn("vec_id", col("vec_id") + 100000L))
    val pairs = Similarity.graphDupPairs(corpus, "embedding", "vec_id",
      COS_T, k = 5, iters = 1, buckets = 50, dim = EMB_DIM)
    Dedup.connectedComponents(pairs.select("id_a", "id_b"))
      .withColumnRenamed("id", "vec_id")
  }

  /** STORE-backed near-dup sweep (C5h, NEW r17 — dedup_graph's chain
    * re-pointed at the PERSISTED [[graft.sim.GraphAnnIndex]], the r16
    * verdict's last ANN↔dedup seam): the base corpus seeds the store,
    * the planted +100k copies arrive via insert() (their dup edges
    * are the insert beam-search's own connections — zero rebuild),
    * half the plants then LEAVE via delete(), and the sweep reads the
    * persisted edges — mutual, both ends live, exact-cosine ≥ T →
    * connected components. O(edges); the oracle replays seed build, insert
    * search, edge connection, mutuality, tombstone mask, threshold,
    * and CC as one chain, so any divergence in the persisted dup path
    * hash-fails.
    */
  def dedupGraphStoreQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val planted = e.filter(expr("vec_id % 50 = 0"))
      .withColumn("vec_id", col("vec_id") + 100000L)
    val store = java.nio.file.Files.createTempDirectory("graft-gdup").toString
    graft.sim.GraphAnnIndex.build(spark, e, "embedding", "vec_id",
      k = 5, iters = 1, buckets = 50, dim = EMB_DIM.get, store,
      nStoreBuckets = 4)
    graft.sim.GraphAnnIndex.insert(spark, planted, "embedding", "vec_id",
      store, batchId = 1L, connectK = 5, entries = 8, beam = 8, rounds = 3,
      dim = EMB_DIM.get)
    graft.sim.GraphAnnIndex.delete(spark,
      planted.filter(expr("vec_id % 100 = 50")).select("vec_id"), "vec_id",
      store, batchId = 2L)
    graft.sim.GraphAnnIndex.dedupSweep(spark, store, COS_T)
      .withColumnRenamed("id", "vec_id")
  }

  /** Threshold-tuning curve for embedding dedup: pair counts per
    * 0.05-wide cosine bucket from ONE pair scan, with the cumulative
    * pairs-at-or-above count — the curve a deployment reads to pick
    * SemDeDup's threshold (where does the dup mass fall off?) instead
    * of re-running the scan per candidate T. The cumulative window
    * runs over the ≤ 16 bucket rows, not the pairs.
    */
  def dedupThresholdCurveQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = Similarity.cosinePairs(Tables.embeddings(spark, sfDir),
      "embedding", "vec_id", threshold = 0.2, dim = EMB_DIM)
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pairs.select(floor(col("cosine") * 20).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_pairs_ge", sum(col("n_pairs")).over(w))
      .select((col("bucket") * 5L).as("cos_lo_centi"),
        col("n_pairs"), col("n_pairs_ge"))
  }

  def annTopkQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(spark, sfDir), "embedding", "vec_id",
      expr("id % 100 = 0"), k = 5, dim = EMB_DIM)

  /** Truncated-dimension retrieval eval (`ann_dim_recall`, NEW r16) —
    * the matryoshka/MRL question every embedding deployment asks
    * before picking a storage width (Kusupati et al., NeurIPS 2022):
    * recall@5 of brute-force search over the FIRST d dims against the
    * full-dim truth, for d ∈ {16, 32}. A d-dim prefix costs d/64 of
    * the scan bytes, dot-product flops and index footprint — this
    * table says what that buys back in recall, per query (the tail
    * matters: a mean hides the queries truncation breaks). Exact
    * hit counts, zero-hit queries included from the truth side; the
    * slice happens before quantization on both engines (elementwise,
    * so slice∘quantize == quantize∘slice — replayable).
    */
  def annDimRecallQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val exact = annTopkQ(spark, sfDir).select(col("query_id"), col("neighbor_id"))
    Seq(16, 32).map { d =>
      val sliced = e.select(col("vec_id"),
        expr(s"slice(embedding, 1, $d)").as("embedding"))
      val approx = Similarity.bruteForceTopK(sliced, "embedding", "vec_id",
          expr("id % 100 = 0"), k = 5, dim = Some(d))
        .select(col("query_id"), col("neighbor_id"))
      exact.join(approx.withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum("hit"), lit(0L)).as("n_hits"))
        .withColumn("dim", lit(d.toLong))
    }.reduce(_ unionByName _)
  }

  /** Same-label filtered search: each probe retrieves only within its
    * own label partition (the multi-tenant shape).
    */
  def annFilteredQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.bruteForceTopKFiltered(Tables.embeddings(spark, sfDir),
      "embedding", "vec_id", "label", expr("id % 100 = 0"), k = 5,
      dim = EMB_DIM)

  /** Embedding-level eval-set contamination: every 100th vector plays
    * the eval probe, hits at the dedup threshold counted per probe,
    * top match in floored micro units; zero-hit probes report 0 (the
    * release sign-off reads the absence).
    */
  def contaminationSemanticQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.semanticContamination(Tables.embeddings(spark, sfDir),
      "embedding", "vec_id", expr("id % 100 = 0"), COS_T, dim = EMB_DIM)

  def annIvfQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(spark, sfDir), "embedding", "vec_id",
      expr("id % 100 = 0"), k = 5, centroidStep = 50L, nProbe = 2, dim = EMB_DIM)

  /** Hard-negative mining gate (Similarity.hardNegatives): labeled
    * positives are each query's successor vector (query q → positive
    * q+1, the deterministic label table both engines build), the
    * shortlist is the same IVF search ann_ivf gates (k+1 deep), the
    * positive leaves via a broadcast anti-join and survivors re-rank
    * to k — the oracle replays search, exclusion and re-rank, ranking
    * stage two by the ROUNDED cosine exactly as the engine does.
    */
  def annHardNegativesQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val pairs = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        (col("vec_id") + 1L).as("positive_id"))
    Similarity.hardNegatives(e, "embedding", "vec_id", pairs,
      expr("id % 100 = 0"), k = 5, slack = 1, centroidStep = 50L,
      nProbe = 2, dim = EMB_DIM)
  }

  /** Retrieval-eval gate (Similarity.retrievalEval): MRR@5 and
    * recall@5 of each query's labeled positive (successor vector, the
    * ann_hard_negatives label table) in the gated IVF search — the
    * index-quality scoreboard. Integer micro/ppm aggregation, one row.
    */
  def annMrrQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val pairs = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        (col("vec_id") + 1L).as("positive_id"))
    Similarity.retrievalEval(e, "embedding", "vec_id", pairs,
      expr("id % 100 = 0"), k = 5, centroidStep = 50L, nProbe = 2,
      dim = EMB_DIM)
  }

  /** Contrastive-training triplet EXPORT through the TFRecord
    * boundary — the composition `ann_hard_negatives` exists for:
    * (anchor, positive, negative, rank) int64 triplet rows from the
    * gated hard-negative miner (k=3 per query), shipped as TFRecord
    * Example shards, read back with the committed reader, and
    * manifest-verified per query bucket (count + XOR fingerprint over
    * the full tuple). int64 → varint wire → int64 is exact, so the
    * oracle replays mining + manifest straight from the embeddings
    * parquet; any wire corruption or row loss hash-fails.
    */
  def pipelineTripletsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val pairs = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        (col("vec_id") + 1L).as("positive_id"))
    val negs = Similarity.hardNegatives(e, "embedding", "vec_id", pairs,
      expr("id % 100 = 0"), k = 3, slack = 1, centroidStep = 50L,
      nProbe = 2, dim = EMB_DIM)
    val triplets = negs.join(broadcast(pairs), Seq("query_id"))
      .select(col("query_id"), col("positive_id"),
        col("neighbor_id").as("negative_id"), col("rank").cast("long").as("rank"))
    val dir = java.nio.file.Files.createTempDirectory("graft_trip").toString
    graft.sources.TfRecord.write(triplets.repartition(2), dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("positive_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("negative_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType)))
    val back = graft.sources.TfRecord.read(spark, s"$dir/*.tfrecord", schema)
    val fp = graft.util.Hashing.portableHash64(concat_ws(":",
      col("query_id"), col("positive_id"), col("negative_id"), col("rank")))
    back.groupBy(expr("(query_id div 100) % 4").as("bucket"))
      .agg(count(lit(1)).as("n_triplets"),
        min(col("rank")).as("min_rank"), max(col("rank")).as("max_rank"),
        bit_xor(fp).as("content_xor"))
  }

  /** NN-descent k-NN graph: hash-ring init, one full local-join
    * round, exact scoring — the graph-ANN build stage gated
    * end-to-end (the oracle replays init, candidate generation, and
    * the top-k merge).
    */
  def annNnDescentQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.nnDescent(Tables.embeddings(spark, sfDir), "embedding",
      "vec_id", k = 5, iters = 1, buckets = 50, dim = EMB_DIM)

  /** Graph-ANN SEARCH gate (Similarity.graphSearch over the
    * [[annNnDescentQ]] graph, same build params so the oracle replays
    * one construction): every 100th vector probes from 4 hash-seeded
    * entry points, beam 3, 2 fixed expansion rounds, exact-cosine
    * rerank to top-5 — the HNSW-lineage query path (r14 verdict #4).
    */
  def annGraphSearchQ(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val graph = Similarity.nnDescent(emb, "embedding", "vec_id",
      k = 5, iters = 1, buckets = 50, dim = EMB_DIM)
    Similarity.graphSearch(emb, graph, "embedding", "vec_id",
      expr("id % 100 = 0"), entries = 4, beam = 3, rounds = 2,
      topK = 5, dim = EMB_DIM)
  }

  /** HIERARCHICAL graph search gate (Similarity.hierSearch — the HNSW
    * two-layer shape, NEW r15): every 8th-by-hash vector forms the
    * sparse upper layer with its own k=3 graph; probes first search
    * the upper layer (2 global entries, beam 2, 1 round) and hand
    * their top-2 upper results to the base-layer search (beam 3, 2
    * rounds) as personal entry points — the long-range hop that lands
    * each probe near its neighborhood before the fine walk.
    */
  def annGraphHierQ(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val base = Similarity.nnDescent(emb, "embedding", "vec_id",
      k = 5, iters = 1, buckets = 50, dim = EMB_DIM)
    Similarity.hierSearch(emb, base, "embedding", "vec_id",
      expr("id % 100 = 0"), upperMod = 8, upperK = 3,
      upperIters = 1, upperBuckets = 10, entries = 2, upperBeam = 2,
      upperRounds = 1, baseEntries = 2, beam = 3, rounds = 2,
      topK = 5, dim = EMB_DIM)
  }

  /** Recall@5 of the graph search against the brute-force truth — the
    * ann_recall harness shape for the graph path: exact hit counts
    * per query, zero-hit queries included from the truth side.
    */
  def annGraphRecallQ(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = annTopkQ(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"))
    val approx = annGraphSearchQ(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"))
    exact.join(approx.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum("hit"), lit(0L)).as("n_hits"))
  }

  /** Recall@5 of the probed-bucket IVF search vs the brute-force
    * ground truth — the eval harness an ANN deployment tunes
    * (nProbe, centroid count) against. Exact hit counts per query,
    * queries with zero hits included (left join from the truth set);
    * the DuckDB oracle replays BOTH search paths and the overlap.
    * Scale: the two top-k outputs are |queries|·k rows — the join and
    * count are negligible next to the searches themselves.
    */
  def annRecallQ(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = annTopkQ(spark, sfDir).select(col("query_id"), col("neighbor_id"))
    val approx = annIvfQ(spark, sfDir).select(col("query_id"), col("neighbor_id"))
    exact.join(approx.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum("hit"), lit(0L)).as("n_hits"))
  }

  /** recall@5 of the cascade path against the exact brute-force
    * top-k — the harness that tells a deployment whether shortlist=25
    * buys back the recall PQ's quantization gives up (the ann_recall
    * sibling for the two-stage path). At the gate's iters=0
    * hash-init codebook it measures 2/5 per query at sf0.01 — the
    * honest number for an untrained codebook, and precisely the
    * signal that says "train the codebook / widen the shortlist"
    * before deploying; the gate pins the MEASUREMENT, not a recall
    * target.
    */
  def annRecallCascadeQ(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = annTopkQ(spark, sfDir).select(col("query_id"), col("neighbor_id"))
    val approx = annCascadeQ(spark, sfDir).select(col("query_id"), col("neighbor_id"))
    exact.join(approx.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum("hit"), lit(0L)).as("n_hits"))
  }

  def annLshQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.hyperplaneBuckets(Tables.embeddings(spark, sfDir), "embedding", "vec_id",
      dim = EMB_DIM)
      .withColumnRenamed("id", "vec_id")

  /** Embedding-space diversity downsample: ONE representative (min id)
    * per hyperplane-LSH cell plus the cell's mass — the coverage
    * sampler (SemDeDup's "one per semantic cell" downsampling knob):
    * where sample_stratified balances LABELED strata and
    * dedup_semantic removes near-twins, this thins a corpus to at
    * most 2^planes spread-out representatives with `planes` as the
    * budget dial; the cell mass column is the reweighting factor a
    * loss-weighted training run wants. Same seeded integer LSH as
    * ann_lsh (shared oracle arithmetic); one bucket assignment scan +
    * one partial-agg struct-min groupBy — no window, no pair join.
    */
  def sampleDiverseQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.hyperplaneBuckets(Tables.embeddings(spark, sfDir),
        "embedding", "vec_id", dim = EMB_DIM)
      .groupBy("bucket")
      .agg(min(col("id")).as("keeper_id"), count(lit(1)).as("n_members"))

  /** The 100 TB embedding-dedup path: exact cosine only WITHIN
    * hyperplane buckets (no global N² join). Same verified cosine as
    * `dedup_embedding`; the bucket stage is `ann_lsh`'s.
    */
  def annLshPairsQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.annLshPairs(Tables.embeddings(spark, sfDir), "embedding", "vec_id",
      COS_T, dim = EMB_DIM)

  /** Product-quantization ANN (the memory-compressed 100 TB path:
    * m codes per vector instead of dim floats; ADC search). iters=0
    * keeps the codebook at its deterministic hash-ranked init, so the
    * WHOLE pipeline — init, subspace argmin assignment, ADC distance
    * sums, ranking — is integer-exact and DuckDB-replayable.
    */
  def annPqQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.pqTopK(Tables.embeddings(spark, sfDir), "embedding", "vec_id",
      expr("id % 100 = 0"), k = 5, m = 8, codes = 16, iters = 0, dim = EMB_DIM)

  /** Two-stage cascade retrieval (Similarity.cascadeTopK): PQ/ADC
    * shortlist of 25 candidates per query, exact-cosine rerank to
    * top-5 — the recall/precision split a production vector store
    * deploys; the DuckDB oracle replays shortlist AND rerank.
    */
  def annCascadeQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.cascadeTopK(Tables.embeddings(spark, sfDir), "embedding",
      "vec_id", expr("id % 100 = 0"), k = 5, shortlist = 25, m = 8,
      codes = 16, iters = 0, dim = EMB_DIM)

  /** Embedding k-means clustering (rows-only check: the iterative
    * floor-quantized Lloyd loop is not one SQL statement; determinism
    * and nearest-centroid consistency are spec-pinned instead —
    * [[embKmeansInitQ]] hash-gates the shared init + assignment).
    */
  def embKmeansQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.kmeans(Tables.embeddings(spark, sfDir), "embedding", "vec_id",
      k = 8, iters = 4, dim = EMB_DIM)

  /** K-means at iters=0: hash-ranked init + one nearest-centroid
    * assignment, both pure md5/integer arithmetic — DuckDB-replayable,
    * so the init and assignment stages the iterative `emb_kmeans`
    * builds on are hash-gated (ann_pq established the pattern).
    */
  def embKmeansInitQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.kmeans(Tables.embeddings(spark, sfDir), "embedding", "vec_id",
      k = 8, iters = 0, dim = EMB_DIM)

  /** Incremental IVF index maintenance (sim.IvfIndex): the quantizer
    * trains on the EVEN vec_ids (iters=0 → deterministic hash-ranked
    * init, DuckDB-replayable) and persists; the ODD half then arrives
    * as an ingestion batch assigned against the PERSISTED centroids
    * read back from parquet — the round-trip is part of what this
    * gates — and appended to the `gb=`-bucketed inverted file. Output
    * is the whole store: every id's (batch, cluster, cosine), so the
    * oracle replays init + both assignment passes and any divergence
    * in the persisted path (quantization loss, wrong bucket, replay
    * duplication) hash-fails.
    */
  def annIvfAssignQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val store = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    graft.sim.IvfIndex.build(spark, e.filter(col("vec_id") % 2 === 0),
      "embedding", "vec_id", k = 8, iters = 0, dim = EMB_DIM.get,
      store, nStoreBuckets = 4)
    graft.sim.IvfIndex.append(spark, e.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", store, batchId = 1L, dim = EMB_DIM.get)
    graft.sim.IvfIndex.assignments(spark, store)
      .select(col("id"), col("batch").cast("long").as("batch"),
        col("cid").as("cluster"), col("ccos").as("centroid_cosine"))
  }

  /** Search over the PERSISTED IVF index ([[annIvfAssignQ]]'s
    * retrieval half — sim.IvfIndex.searchTopK): queries rank the
    * broadcast persisted centroids, only the probed posting buckets
    * are read (bucket-dir-confined), exact rerank from the vectors
    * the postings carry. Same iters=0 even-half quantizer as the
    * assignment gate, so the oracle replays quantizer init, both
    * assignment passes, probe ranking AND the rerank.
    */
  def annIvfSearchQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val store = java.nio.file.Files.createTempDirectory("graft-ivfs").toString
    graft.sim.IvfIndex.build(spark, e.filter(col("vec_id") % 2 === 0),
      "embedding", "vec_id", k = 8, iters = 0, dim = EMB_DIM.get,
      store, nStoreBuckets = 4)
    graft.sim.IvfIndex.append(spark, e.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", store, batchId = 1L, dim = EMB_DIM.get)
    graft.sim.IvfIndex.searchTopK(spark, store,
      e.filter(col("vec_id") % 100 === 0), "embedding", "vec_id",
      k = 5, nProbe = 2, dim = EMB_DIM.get)
  }

  /** Index DELETION lifecycle under the gate (C7s): build + append as
    * in ann_ivf_search, then tombstone every 10th vector and search —
    * deleted vectors must vanish from every result list (query-time
    * broadcast anti-join; the physical fold is [[IvfIndex.vacuum]],
    * spec-pinned to produce the identical search). The oracle replays
    * the search over the surviving corpus.
    */
  def annIvfDeleteQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val store = java.nio.file.Files.createTempDirectory("graft-ivfd").toString
    graft.sim.IvfIndex.build(spark, e.filter(col("vec_id") % 2 === 0),
      "embedding", "vec_id", k = 8, iters = 0, dim = EMB_DIM.get,
      store, nStoreBuckets = 4)
    graft.sim.IvfIndex.append(spark, e.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", store, batchId = 1L, dim = EMB_DIM.get)
    graft.sim.IvfIndex.delete(spark,
      e.filter(col("vec_id") % 10 === 0).select("vec_id"),
      "vec_id", store, batchId = 2L)
    graft.sim.IvfIndex.searchTopK(spark, store,
      e.filter(col("vec_id") % 100 === 0), "embedding", "vec_id",
      k = 5, nProbe = 2, dim = EMB_DIM.get)
  }

  /** PERSISTED graph-ANN lifecycle gate (sim.GraphAnnIndex — the
    * IvfIndex discipline for the HNSW-lineage family, r15 verdict
    * #1): the EVEN vec_ids seed the store (one nnDescent build, same
    * params as ann_nndescent), the ODD half then arrives as an
    * ingestion batch — each new vector beam-searches the PERSISTED
    * even graph read back from parquet, connects to its exact-cosine
    * top-5, and its forward+reverse edges append as `batch=1` — and
    * every 100th vector searches the merged store. The oracle
    * replays seed build, insert search, edge connection, AND the
    * final search as one CTE chain (the ann_ivf_assign convention),
    * so any divergence in the persisted path — lost edges, wrong
    * bucket, replayed-insert pollution — hash-fails.
    */
  def annGraphPersistedQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val store = java.nio.file.Files.createTempDirectory("graft-gann").toString
    graft.sim.GraphAnnIndex.build(spark, e.filter(col("vec_id") % 2 === 0),
      "embedding", "vec_id", k = 5, iters = 1, buckets = 50,
      dim = EMB_DIM.get, store, nStoreBuckets = 4)
    graft.sim.GraphAnnIndex.insert(spark, e.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", store, batchId = 1L, connectK = 5,
      entries = 4, beam = 3, rounds = 2, dim = EMB_DIM.get)
    graft.sim.GraphAnnIndex.searchTopK(spark, store,
      e.filter(col("vec_id") % 100 === 0), "embedding", "vec_id",
      entries = 4, beam = 3, rounds = 2, topK = 5, dim = EMB_DIM.get)
  }

  /** The persisted lifecycle's DELETE half gated (the ann_ivf_delete
    * convention for the graph store): same seed build + odd-half
    * insert, then every id ≡ 3 (mod 10) tombstones, then the merged-
    * graph search — tombstoned ids must vanish from entry sets, beams
    * and results (the oracle's live set replaces the node table
    * exactly where searchTopK anti-joins tombstones) while the edge
    * table stays full: dead edges cost wasted frontier candidates,
    * never a wrong row, until vacuum folds them out.
    */
  def annGraphDeleteQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val store = java.nio.file.Files.createTempDirectory("graft-gannd").toString
    graft.sim.GraphAnnIndex.build(spark, e.filter(col("vec_id") % 2 === 0),
      "embedding", "vec_id", k = 5, iters = 1, buckets = 50,
      dim = EMB_DIM.get, store, nStoreBuckets = 4)
    graft.sim.GraphAnnIndex.insert(spark, e.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", store, batchId = 1L, connectK = 5,
      entries = 4, beam = 3, rounds = 2, dim = EMB_DIM.get)
    graft.sim.GraphAnnIndex.delete(spark,
      e.filter(col("vec_id") % 10 === 3).select("vec_id"), "vec_id",
      store, batchId = 2L)
    graft.sim.GraphAnnIndex.searchTopK(spark, store,
      e.filter(col("vec_id") % 100 === 0), "embedding", "vec_id",
      entries = 4, beam = 3, rounds = 2, topK = 5, dim = EMB_DIM.get)
  }

  /** SemDeDup-style semantic near-dup: exact cosine within k-means
    * clusters (rows-only; spec pins that it finds the planted dup.
    * [[dedupSemanticInitQ]] hash-gates the same pipeline at iters=0).
    */
  def dedupSemanticQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.semanticDupPairs(Tables.embeddings(spark, sfDir), "embedding",
      "vec_id", COS_T, k = 8, iters = 4, dim = EMB_DIM)

  /** Semantic near-dup at iters=0: clusters come straight from the
    * deterministic init assignment, so cluster membership AND the
    * within-cluster exact cosines are DuckDB-replayable end-to-end.
    */
  def dedupSemanticInitQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.semanticDupPairs(Tables.embeddings(spark, sfDir), "embedding",
      "vec_id", COS_T, k = 8, iters = 0, dim = EMB_DIM)

  def textTokensQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.tokenCounts(Tables.documents(spark, sfDir), "text", "doc_id")

  /** Context-length planning histogram: whitespace-token doc lengths
    * in power-of-two buckets (floor(log2) via integer bit length — no
    * float log), per bucket doc count, token mass, and the share of
    * tokens a `maxLen` training context would TRUNCATE away from docs
    * in that bucket — the one-glance table that picks chunk/pack
    * budgets (the mass above the context is what text_chunk exists
    * to recover).
    */
  def textLengthProfileQ(spark: SparkSession, sfDir: String): DataFrame = {
    val maxLen = 64L
    Tables.documents(spark, sfDir)
      .select(size(split(TextAnalysis.normalize(col("text")), " "))
        .cast("long").as("n"))
      // floor(log2(n)) WITHOUT float logs (their ulp behavior at exact
      // powers of two is not a cross-engine contract): the length of
      // the binary string rendering minus one — bin()/length() agree
      // everywhere
      .withColumn("bucket", (length(expr("bin(n)")) - 1).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("token_mass"),
        sum(greatest(col("n") - maxLen, lit(0L))).as("truncated_mass"))
      .withColumn("truncated_ppm",
        expr("(truncated_mass * 1000000L) div token_mass"))
  }

  def textQualityQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.qualityScores(Tables.documents(spark, sfDir), "text", "doc_id")

  def textLangidQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.langId(Tables.documents(spark, sfDir), "text", "doc_id")

  def textReadabilityQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.readability(Tables.documents(spark, sfDir), "text", "doc_id")

  /** Code-vs-prose routing (TextAnalysis.codeDetect) over a corpus
    * where doc_id % 9 = 0 docs carry an appended 8-line code block
    * (both engines construct the identical augmentation — the text_pii
    * convention) so the flag has true positives; the natural corpus is
    * pure prose (sym_ppm 0), so the gate proves both sides of the cut.
    */
  def textCodeDetectQ(spark: SparkSession, sfDir: String): DataFrame = {
    val aug = Tables.documents(spark, sfDir).withColumn("text",
      when(col("doc_id") % 9 === 0, concat(col("text"), expr(
        "repeat(chr(10) || '    var x = f(a[i]); const y = {b: (c < d)};', 8)")))
        .otherwise(col("text")))
    TextAnalysis.codeDetect(aug, "text", "doc_id")
  }

  /** Scrub corpus: documents augmented with synthetic emails/URLs/ids
    * (both engines construct the identical text) so the redaction has
    * true positives to hit.
    */
  /** Regex-level HTML→text extraction (TextAnalysis.htmlExtract) over
    * a deterministically synthesized markup wrapper — script/style
    * blocks, comments, entities, a title, and a script body that
    * CONTAINS markup (the classic extractor trap) around each doc's
    * text (text_scrub's augmentation convention); the DuckDB oracle
    * replays the synthesis and the whole strip/decode chain.
    */
  def textHtmlExtractQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit(" &amp; friends</title><style type=\"text/css\">p { margin: 0; }</style></head>" +
        "<body><!-- crawl marker --><h1>Doc "), col("doc_id").cast("string"),
      lit("</h1><p>First &amp; foremost: 1 &lt; 2, &quot;it&#39;s&quot;&nbsp;true.</p><div class=\"c\">"),
      col("text"),
      lit("</div><script>if (1 < 2) { var x = \"</p>\"; }</script></body></html>"))
    TextAnalysis.htmlExtract(
      d.select(col("doc_id"), html.as("html")), "html", "doc_id")
  }

  /** Markdown extraction gate: documents wrapped in a markdown
    * template exercising every rewrite arm — ATX header, blockquote,
    * emphasis, inline code, link + image, bullet + ordered item, a
    * fenced block whose contents ('# not a header') must NOT leak
    * into prose, an hr — then extracted via the shared RE2-safe
    * chain. The oracle rebuilds the same template and replays the
    * chain; structural counts come off the raw markdown.
    */
  def textMarkdownExtractQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val id = col("doc_id").cast("string")
    val md = concat(
      lit("# Doc "), id, lit("\n\n> intro quote\nFirst *em* **strong** " +
        "`inline(code)` [go](https://ex.invalid/"), id,
      lit(") ![logo](l.png)\n- item one\n2. item two\n```\nif (1 < 2) " +
        "{ x = \"# not a header\"; }\n```\n"),
      col("text"), lit("\n---\n"))
    TextAnalysis.markdownExtract(
      d.select(col("doc_id"), md.as("md")), "md", "doc_id")
  }

  /** Outlink/host extraction gate: documents wrapped in an HTML
    * template carrying four anchors each — two to a per-lang mirror
    * host (same host, one with a fragment — n_links must count both
    * while n_docs counts the doc once), one to a per-source host, and
    * one relative path (the `(relative)` marker row). The oracle
    * rebuilds the template and replays extraction + host rollup.
    */
  def textOutlinksQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><body><a href=\"https://m-"), col("lang"),
      lit(".example/doc/"), id,
      lit("\">m</a><p><a class=\"x\" href=\"http://"), col("source"),
      lit(".example/?id="), id,
      lit("\">s</a></p><a href=\"/local/"), id,
      lit("\">l</a><a href=\"https://m-"), col("lang"),
      lit(".example/doc/"), id, lit("#top\">again</a></body></html>"))
    TextAnalysis.outlinks(
      d.select(col("doc_id"), html.as("html")), "html", "doc_id")
  }

  /** Frequent-values profiler gate over one low-cardinality column
    * (event_type — exercises the full-ranking arm) and one
    * high-cardinality column (user_id — exercises the top-k heap arm
    * where count ties break on the string value).
    */
  def profileFreqQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.frequentValues(Tables.events(spark, sfDir),
      Seq("event_type", "user_id"), k = 5)

  /** Boilerplate-removal gate on the augmented-input convention:
    * every doc of a source gains that source's nav + footer lines
    * (100% in-group df → struck) and 30% gain a promo line (under
    * the 50% threshold → stays, proving the ratio bites as a ratio);
    * the body rides through untouched. Oracle replays lines, in-group
    * df, the integer cross-multiplied threshold, and the ordered
    * reassembly.
    */
  def textBoilerplateQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .withColumn("text", concat(
        lit("NAV "), col("source"), lit(" HOME\n"),
        when(expr("doc_id % 10 < 3"),
          concat(lit("PROMO "), col("source"), lit(" SALE\n")))
          .otherwise(lit("")),
        col("text"), lit("\nCOPYRIGHT "), col("source"), lit(" FOOTER")))
    TextAnalysis.boilerplate(d.select("doc_id", "source", "text"),
      "text", "doc_id", "source", ratioPpm = 500000L, minDocs = 2L)
  }

  def textScrubQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .withColumn("text", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via https://ex.com/p?id="), col("doc_id").cast("string"),
        lit(" ref 1234567"), col("doc_id").cast("string")))
    TextAnalysis.scrub(d, "text", "doc_id")
  }

  def sampleStratifiedQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.stratified(Tables.events(spark, sfDir),
      "event_type", "event_id",
      rates = Map("click" -> 0.5, "purchase" -> 1.0, "error" -> 0.0),
      defaultRate = 0.1)
      .select("event_id", "user_id", "event_type")

  /** Unigram-LM quality score: mean ln(df(token)/N) over each doc's
    * tokens (with repetition), df = corpus document frequency — the
    * cheap LM-perplexity stand-in data pipelines use to rank documents
    * by "typicality". One explode + one broadcast vocab join + one
    * per-doc aggregation; the vocab table is corpus-bounded (drop the
    * broadcast hint if it outgrows memory — the join shuffles by token
    * instead, still |tokens| rows).
    */
  def textUnigramLogprobQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val norm = TextAnalysis.normalize(col("text"))
    val toks = d.select(col("doc_id"), explode(split(norm, " ")).as("tok"))
    // N (corpus size) rides along as a broadcast scalar subtree instead
    // of a driver-side d.count(): one Spark action total, no extra
    // full pass over documents per run.
    val nDf = d.agg(count(lit(1)).cast("double").as("corpus_n"))
    val dfreq = d.select(col("doc_id"), explode(array_distinct(split(norm, " "))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("doc_freq"))
      .crossJoin(broadcast(nDf))
    toks.join(broadcast(dfreq), Seq("tok"))
      .groupBy("doc_id")
      .agg(
        round(avg(log(col("doc_freq").cast("double") / col("corpus_n"))), 4).as("mean_logprob"),
        count(lit(1)).as("n_tokens"))
  }

  /** Sequence packing: whole documents grouped into ~1024-token packs
    * (sharded first-fit-with-overflow, `graft.ops.Packing`) — the
    * context-window assembly step after cleaning/dedup. Deterministic
    * hash shards + per-shard prefix sums; one shuffle, no driver state.
    */
  def textPackQ(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir).select(col("doc_id"),
      size(split(TextAnalysis.normalize(col("text")), " ")).as("n_tokens"))
    graft.ops.Packing.packSequences(toks, "doc_id", "n_tokens",
      budget = 1024, nShards = 8)
  }

  /** Packing-efficiency report over text_pack's assignment: per pack
    * its doc count, token fill and utilization vs the budget — the
    * number a training pipeline watches (waste = idle accelerator
    * time; chronic >10⁶ ppm packs mean the straddling docs are too
    * long for the context budget). One partial agg over the pack
    * assignment; output bounded by Σtokens/budget rows.
    */
  def packEfficiencyQ(spark: SparkSession, sfDir: String): DataFrame =
    textPackQ(spark, sfDir)
      .groupBy("shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
      .withColumn("util_ppm", expr("pack_tokens * 1000000 DIV 1024"))

  /** Gopher-style within-doc repetition fractions — map-only. */
  def textRepetitionQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.repetition(Tables.documents(spark, sfDir), "text", "doc_id")

  /** Benchmark-contamination scan: every 97th doc plays the held-out
    * benchmark; the rest of the corpus is checked for shared word
    * trigrams against the broadcast probe set.
    */
  def textContaminationQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.contamination(Tables.documents(spark, sfDir), "text", "doc_id",
      probe = expr("doc_id % 97 = 0"), n = 3, minShared = 5)

  /** Canary inject→extract roundtrip: the regex pulls the injected
    * token back out of the rewritten text, proving selection, token
    * derivation and injection agree cross-engine.
    */
  def textCanaryQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.canary(Tables.documents(spark, sfDir), "text", "doc_id",
        ratePpm = 40000L, salt = "graft")
      .select(col("doc_id"), col("has_canary"),
        regexp_extract(col("text"), "canary-([0-9a-f]{12})", 0).as("found"))

  def textCdcChunkQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.cdcChunk(Tables.documents(spark, sfDir), "text", "doc_id",
      k = 8, modulus = 16)

  def textWordlistQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.wordlistScan(Tables.documents(spark, sfDir), "text", "doc_id",
      lists = Map("sql" -> Seq("select", "drop", "merge"),
        "perf" -> Seq("slow", "fast")),
      flagPpm = 100000L)

  def textZipfSlopeQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.zipfSlope(Tables.documents(spark, sfDir), "text", minCount = 2L)

  /** Chunk-level dedup over the dup-injected corpus: content-defined
    * chunks shared by more than one doc — the edit-robust granularity
    * between span-level (dedup_spans) and doc-level dedup.
    */
  def dedupCdcChunksQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.cdcChunk(dupCorpus(spark, sfDir), "text", "doc_id",
        k = 8, modulus = 16)
      .groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("chunk_len")).as("chunk_len"))
      .filter(col("n_docs") > 1)

  /** Coverage-ratio twin of text_contamination on the same probe set,
    * at the same n = 3 (the synthetic docs are short); flag at 60%.
    */
  def textNgramCoverageQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.ngramCoverage(Tables.documents(spark, sfDir), "text", "doc_id",
      probe = expr("doc_id % 97 = 0"), n = 3, flagPpm = 600000L)

  /** Quality-ranked keeper per bag-hash group on the dup corpus. */
  def dedupKeepBestQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.keepBest(dupCorpus(spark, sfDir), "text", "doc_id")

  def textVocabQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.vocabulary(Tables.documents(spark, sfDir), "text", "doc_id", 100)

  def textFingerprintQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.fingerprints(Tables.documents(spark, sfDir), "text", "doc_id")

  /** Ingestion-time incremental dedup: a change batch of 1/50 corpus
    * copies (rejected), 1/41 genuinely-new docs (admitted), and an
    * in-batch duplicate of every new doc (collapsed to the min-id
    * keeper) probed against the full corpus — see Dedup.incremental.
    */
  def dedupIncrementalQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (corpus, batch) = incrementalScenario(spark, sfDir)
    Dedup.incremental(corpus, batch, "text", "doc_id")
  }

  private def incrementalScenario(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val d = Tables.documents(spark, sfDir)
    val dups = d.filter(expr("doc_id % 50 = 0"))
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val news = d.filter(expr("doc_id % 41 = 0"))
      .select((col("doc_id") + 500000L).as("doc_id"),
        concat(col("text"), lit(" graft novel tail")).as("text"))
    val copies = news.withColumn("doc_id", col("doc_id") + 100000L)
    (d.select("doc_id", "text"), dups.unionByName(news).unionByName(copies))
  }

  /** The SAME admission scenario through the Bloom-prefiltered path —
    * same oracle SQL as dedup_incremental, because bloom + exact
    * confirmation has no false negatives and the confirm join kills
    * the false positives: hash-identical results, corpus-shuffle-free
    * plan (the 100 TB ingestion shape).
    */
  def dedupBloomQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (corpus, batch) = incrementalScenario(spark, sfDir)
    Dedup.incrementalBloom(corpus, batch, "text", "doc_id",
      expectedItems = 1 << 16)
  }

  /** Incremental MinHash-LSH near-dup screen (Dedup.incrementalLsh):
    * the batch re-issues every 25th doc with three appended tokens —
    * a near-dup whose content hash CHANGED, invisible to the exact
    * incremental probe — plus every 40th doc rewritten as synthetic
    * md5 text (genuinely new, shares no tokens). Only the re-issues
    * should surface, each matched back to its source doc; the oracle
    * replays the full seeded-minhash → band → Jaccard → keep-best
    * chain on both relations.
    */
  def dedupIncrementalLshQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val near = d.filter(expr("doc_id % 25 = 0"))
      .select((col("doc_id") + 500000L).as("doc_id"),
        concat(col("text"), lit(" graftbatch extra token")).as("text"))
    val fresh = d.filter(expr("doc_id % 40 = 0"))
      .select((col("doc_id") + 700000L).as("doc_id"),
        concat(lit("nova "), md5(col("doc_id").cast("string")), lit(" "),
          md5((col("doc_id") * 7).cast("string"))).as("text"))
    Dedup.incrementalLsh(d.select("doc_id", "text"),
      near.unionByName(fresh), "text", "doc_id",
      numHashes = 16, numBands = 2, threshold = JAC_T)
  }

  /** Train/val/test split + leakage audit (Sampling.splitWithLeakage)
    * over the mirrored corpus (every 50th doc duplicated at +300000,
    * the dedup-family convention) — the mirrors' ids hash into
    * different splits, so the cross-split leakage counters have true
    * positives to find.
    */
  def sampleSplitQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select("doc_id", "text")
    val corpus = d.unionByName(d.filter(expr("doc_id % 50 = 0"))
      .withColumn("doc_id", col("doc_id") + 300000L))
    graft.ops.Sampling.splitWithLeakage(corpus, "text", "doc_id")
  }

  /** Corpus PII audit (TextAnalysis.piiProfile) over documents
    * augmented with planted emails / IPv4s / phones / id runs on
    * disjoint-ish doc_id residues (both engines construct identical
    * text — text_scrub's convention), so every detector has true
    * positives and the per-source rates are non-degenerate.
    */
  def textPiiQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val aug = concat(col("text"),
      when(expr("doc_id % 7 = 0"), concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
      when(expr("doc_id % 11 = 0"), concat(lit(" host 10."),
        (col("doc_id") % 256).cast("string"), lit(".7."),
        (col("doc_id") % 250).cast("string"))).otherwise(lit("")),
      when(expr("doc_id % 13 = 0"), concat(lit(" call 415-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
      when(expr("doc_id % 17 = 0"), concat(lit(" ref "),
        lpad((col("doc_id") % 100000).cast("string"), 9, "0"))).otherwise(lit("")))
    TextAnalysis.piiProfile(d.withColumn("text", aug), "text", "source")
  }

  /** Exact covariance sufficient statistics of the embedding corpus
    * (Similarity.gramStats): second moments, first moments, count —
    * integer-exact, hash-gated; the distributed half of [[embPcaQ]].
    */
  def embGramQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.gramStats(Tables.embeddings(spark, sfDir), "embedding", dim = 64)

  /** Top principal component by power iteration over emb_gram's exact
    * moments (rows-only: the iterative eigen-solve is not one SQL
    * statement; determinism and recovery of a planted direction are
    * spec-pinned, and the distributed pass is hash-gated as emb_gram —
    * the kmeans/_init twin convention).
    */
  def embPcaQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.pca1(Tables.embeddings(spark, sfDir), "embedding", dim = 64)

  /** Unigram-LM tokenizer seed vocabulary (Unigram.initVocab):
    * freq-weighted substring counts with the deterministic
    * all-singles + top-multis selection — the SQL-replayable half of
    * the unigram family (the train loop is unigram_train, rows-only).
    */
  def unigramInitQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Unigram.initVocab(Tables.documents(spark, sfDir), "text",
      maxPieceLen = 6, vocabSize = 256)

  /** EM-refined unigram vocabulary (Unigram.train, 2 Viterbi rounds —
    * rows-only: the EM loop is not one SQL statement; byte-stability
    * is roundgate-checked and the DP/selection semantics spec-pinned,
    * with unigram_init the hash-gated seed).
    */
  def unigramTrainQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Unigram.train(Tables.documents(spark, sfDir), "text",
      maxPieceLen = 6, vocabSize = 256, iters = 2)

  /** Snapshot-to-snapshot profile regression (Profile.profileDiff):
    * the "current" snapshot deterministically re-extracts lineitem
    * with a unit shift on l_quantity (+5 for orderkey % 7) and a
    * nulled-out l_tax (orderkey % 13) — the two release-regression
    * modes the diff must flag, with the untouched columns clean.
    */
  def profileDiffQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ref = Tables.lineitem(spark, sfDir)
    val cur = ref
      .withColumn("l_quantity", when(expr("l_orderkey % 7 = 0"),
        col("l_quantity") + 5).otherwise(col("l_quantity")))
      .withColumn("l_tax", when(expr("l_orderkey % 13 <> 0"), col("l_tax")))
    graft.ops.Profile.profileDiff(cur, ref,
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
      meanTolMilli = 500L)
  }

  /** Per-shard export manifest (Sampling.shardManifest): counts, char
    * totals, id ranges, and the order-independent XOR content
    * checksum per shard — the hand-off integrity record.
    */
  /** Rebalance plan over a deliberately SKEWED shard manifest
    * (shard = least(doc_id mod 13, 7): shards 0–6 carry 1/13 of the
    * corpus each, shard 7 carries 6/13 — the hot-shard shape a bad
    * key produces), weight = char count: shard 7 must donate to all
    * seven others, to ±1 of the exact mean, minimum chars moved
    * (Sampling.rebalancePlan — the cumulative-interval matcher on
    * the shard-grain manifest).
    */
  def shardRebalanceQ(spark: SparkSession, sfDir: String): DataFrame = {
    val manifest = Tables.documents(spark, sfDir)
      .groupBy(least(pmod(col("doc_id"), lit(13L)), lit(7L)).as("shard"))
      .agg(sum(length(col("text")).cast("long")).as("n_chars"))
    graft.ops.Sampling.rebalancePlan(manifest, "shard", "n_chars")
  }

  def shardManifestQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.shardManifest(
      Tables.documents(spark, sfDir).select("doc_id", "text"),
      "text", "doc_id", numShards = 8, salt = "graft")

  /** Corrupted-vector scan (Similarity.embOutliers): top-25 diagonal
    * Mahalanobis outliers against the corpus' own exact moments —
    * the gate proves the integer z² contract cross-engine on the real
    * distribution; the spec plants corruption to prove detection.
    */
  def embOutliersQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.embOutliers(Tables.embeddings(spark, sfDir), "embedding",
      "vec_id", dim = 64, topK = 25)

  /** FD audit l_orderkey → l_shipdate over lineitem: multi-line
    * orders shipping on different dates violate, single-date orders
    * hold — a real mixed population, witnesses gated exactly.
    */
  def profileFdQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.fdViolations(
      Tables.lineitem(spark, sfDir).select("l_orderkey", "l_shipdate"),
      "l_orderkey", "l_shipdate")

  /** Benford first-digit audit over a natural multi-scale column
    * (l_extendedprice — near-Benford) and a bounded uniform one
    * (l_quantity, 1..50 — strongly anti-Benford): the contrast IS the
    * detector demonstration, gated digit-by-digit.
    */
  def profileBenfordQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.benford(Tables.lineitem(spark, sfDir),
      Seq("l_extendedprice", "l_quantity"))

  /** Per-dimension snapshot drift (Similarity.embDrift): reference =
    * even vec_ids, current = odd vec_ids with a planted +0.5 shift on
    * dimension 3 (both engines build the identical perturbation —
    * 0.5 is exactly representable, so the double add is bit-stable) —
    * the drift flag must fire on exactly that dimension at the 0.25
    * tolerance while even/odd sampling noise stays under it.
    */
  def embDriftQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val ref = e.filter(col("vec_id") % 2 === 0)
    val cur = e.filter(col("vec_id") % 2 === 1)
      .withColumn("embedding", expr(
        """transform(embedding, (x, i) ->
          |  CASE WHEN i = 3 THEN CAST(x AS DOUBLE) + 0.5d
          |       ELSE CAST(x AS DOUBLE) END)""".stripMargin))
    Similarity.embDrift(ref, cur, "embedding", toleranceMicro = 250000L)
  }

  /** df-threshold boilerplate strip over the corpus (see
    * TextAnalysis.dfPrune): one df shuffle + a broadcast high-df set;
    * the prune is a per-row array lambda at scan speed.
    */
  def textDfPruneQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.dfPrune(Tables.documents(spark, sfDir), "text", "doc_id")

  /** Cross-source duplication matrix: for every source pair, how many
    * distinct document contents they share — the web-crawl overlap
    * diagnostic that decides which dumps are worth ingesting at all
    * (a mirror shares ~everything; a fresh crawl shares ~nothing).
    * One partial-agg distinct on (source, hash), a self-join on the
    * hash (uniformly distributed — md5 keys don't skew), and a
    * partial-counted rollup; output is |sources|² at most. The test
    * corpus mirrors every 50th doc under a synthetic 'mirror' source.
    */
  def dedupSourceOverlapQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val corpus = d.select(col("source"), col("text")).unionByName(
      d.filter(expr("doc_id % 50 = 0"))
        .select(lit("mirror").as("source"), col("text")))
    val h = corpus.select(col("source"),
      md5(TextAnalysis.normalize(col("text"))).as("ch")).distinct()
    h.select(col("source").as("source_a"), col("ch"))
      .join(h.select(col("source").as("source_b"), col("ch")), Seq("ch"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** 64-token windows with 16-token overlap — the pre-embedding
    * context-window split (zero-shuffle; see TextAnalysis.chunk).
    */
  def textChunkQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.chunk(Tables.documents(spark, sfDir), "text", "doc_id",
      size = 64, overlap = 16)

  /** End-to-end corpus cleaning — the composition the individual
    * C-block operators exist FOR, gated as one query: quality filter
    * (length + punctuation) → exact dedup (keep min doc_id per
    * normalized text) → decontamination (drop docs sharing ≥5 word
    * trigrams with the held-out probe slice, and the probes
    * themselves). One scan feeds every stage; the only shuffles are
    * the dedup groupBy and the contamination aggregate (probe n-grams
    * broadcast). The oracle recomputes the whole pipeline in SQL, so
    * the gate checks the COMPOSITION, not just the stages.
    */
  def pipelineCleanQ(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = dupCorpus(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"),
        TextAnalysis.normalize(col("text")).as("norm"))
      .withColumn("n_tokens", size(split(col("norm"), " ")))
      .withColumn("punct_ratio",
        length(regexp_replace(col("text"), "[a-z0-9A-Z ]", "")).cast("double") /
          length(col("text")))
      .filter(col("n_tokens") >= 20 && col("punct_ratio") < 0.2)
      .select("doc_id", "lang", "norm", "n_tokens")
    // exact dedup as an aggregate (min keeper id per text), not a
    // window — partial-aggregatable, no per-group sort
    val keepers = scored.groupBy(col("norm")).agg(min("doc_id").as("doc_id"))
    // the deduped corpus feeds BOTH the contamination index and the
    // final anti-join; Lineage.truncate materializes it once instead
    // of re-running the scan + dedup shuffle per consumer (durable
    // checkpoint when spark.graft.checkpointDir is set — the cluster
    // fault-tolerance story in one knob)
    val deduped = graft.util.Lineage.truncate(
      scored.join(keepers, Seq("norm", "doc_id")))
    // contamination re-normalizes internally; normalize is idempotent
    val bad = TextAnalysis.contamination(deduped, "norm", "doc_id",
        probe = expr("doc_id % 97 = 0"), n = 3, minShared = 5)
      .filter(col("contaminated") === 1).select("doc_id")
    deduped.filter(expr("doc_id % 97 <> 0"))
      .join(broadcast(bad), Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_tokens")
  }

  /** Referential-integrity audit of the documents ↔ embeddings pair —
    * the pre-training join check every multimodal/embedding pipeline
    * runs before a training job silently inner-joins away 15% of its
    * corpus: docs with no vector, vectors with no doc, wrong-width
    * vectors, empty texts, each counted exactly. The gate injects the
    * misalignment (drop doc_id % 7 = 3 docs, drop vec_id % 11 = 5
    * vectors, truncate vec_id % 13 = 2 embeddings to half width — the
    * dup-injection convention) so the audit provably FINDS it.
    *
    * Scale shape: both sides project to (key, flag) before the ONE
    * full-outer key join (only keys and two longs cross the shuffle;
    * the embedding arrays and document texts never leave their scans
    * — size() and length() are per-row, scan-fused), then a single
    * partial-combined aggregate to one row.
    */
  def pipelineIntegrityQ(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .filter(expr("doc_id % 7 <> 3"))
      .select(col("doc_id").as("id"), lit(1L).as("is_doc"),
        (length(trim(col("text"))) === 0).cast("long").as("empty_text"))
    val vecs = Tables.embeddings(spark, sfDir)
      .filter(expr("vec_id % 11 <> 5"))
      .withColumn("emb", when(expr("vec_id % 13 = 2"),
        expr("slice(embedding, 1, 32)")).otherwise(col("embedding")))
      .select(col("vec_id").as("id"), lit(1L).as("is_vec"),
        (size(col("emb")) =!= 64).cast("long").as("bad_dim"))
    docs.join(vecs, Seq("id"), "full")
      .agg(
        sum(coalesce(col("is_doc"), lit(0L))).as("n_docs"),
        sum(coalesce(col("is_vec"), lit(0L))).as("n_vecs"),
        sum(when(col("is_doc").isNotNull && col("is_vec").isNull, 1L)
          .otherwise(0L)).as("n_docs_no_vec"),
        sum(when(col("is_vec").isNotNull && col("is_doc").isNull, 1L)
          .otherwise(0L)).as("n_vecs_no_doc"),
        sum(coalesce(col("bad_dim"), lit(0L))).as("n_bad_dim"),
        sum(coalesce(col("empty_text"), lit(0L))).as("n_empty_text"))
  }

  /** WET-ingestion composition, end-to-end under the oracle gate:
    * a deterministic `.wet.gz` fixture (payload bytes = the documents
    * subset's texts, original ids in the Target-URI — see
    * [[graft.sources.WetFixture]]) is parsed by the Warc source, then
    * runs the curation chain — length floor, exact text dedup (min
    * keeper id per md5), portable-hash shard assignment. The DuckDB
    * oracle replays the chain straight from the documents table: if
    * gzip framing, WARC header parsing, Content-Length payload
    * slicing, or the UTF-8 byte round-trip bent a single byte, the
    * md5 dedup groups and n_chars would split and the hash gate
    * fails. This closes the one C-block seam (the crawl-source
    * boundary) that had spec-only coverage.
    *
    * Scale shape: file-level parallel WET parse (the unsplittable-gzip
    * contract), per-row stages, one partial-agg dedup groupBy. The
    * fixture writer's driver-side collect is fixture AUTHORING, not
    * part of the operator.
    */
  def pipelineWetQ(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.sources.WetFixture.write(spark, sfDir)
    val parsed = graft.sources.Warc.wet(spark, s"$dir/*.wet.gz")
      .select(
        expr("cast(regexp_extract(url, 'doc/([0-9]+)', 1) as bigint)")
          .as("doc_id"),
        col("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    parsed.filter(col("n_chars") >= 50)
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"),
        min(col("n_chars")).as("n_chars"))
      .select(col("doc_id"), col("n_copies"), col("n_chars"),
        pmod(graft.util.Hashing.portableHash64(
          concat(lit("graft:shard:"), col("doc_id").cast("string"))), lit(8L))
          .as("shard"))
  }

  /** TFRecord export round-trip, end-to-end under the oracle gate —
    * the training-side boundary mirroring `pipeline_wet_corpus`'s
    * crawl-side one: the documents subset (with a real int64 feature,
    * so the varint path is load-bearing) exports through
    * [[graft.sources.TfRecord]] (hand-coded Example wire format +
    * masked-crc32c framing), reads BACK through the frame parser, and
    * aggregates per-language counts, char/token mass, id range, and
    * the shard_manifest XOR content fingerprint. The DuckDB oracle
    * computes the same aggregates straight from the documents table:
    * one byte bent anywhere in protobuf encode/decode, UTF-8
    * round-trip, varint arithmetic, or CRC framing splits a
    * fingerprint and the hash gate fails.
    *
    * Scale shape: the export is one streamed file per partition
    * (constant memory), the read-back is file-parallel, and the
    * verification aggregate is ONE partial-agg groupBy to |langs|
    * rows — exactly how a real export job self-verifies (write,
    * re-read, compare manifests) without any driver-side row loop.
    */
  def pipelineTfrecordQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_tfr").toString
    val docs = Tables.documents(spark, sfDir)
      .filter(expr("doc_id % 3 = 0"))
      .select(col("doc_id"), col("lang"), col("text"),
        size(split(TextAnalysis.normalize(col("text")), " "))
          .cast("long").as("n_tokens"))
    graft.sources.TfRecord.write(docs.repartition(4), dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType), StructField("n_tokens", LongType)))
    val back = graft.sources.TfRecord.read(
      spark, s"$dir/*.tfrecord", schema)
    val fp = graft.util.Hashing.portableHash64(concat(
      col("doc_id").cast("string"), lit(":"), md5(col("text"))))
    back.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(length(col("text")).cast("long")).as("n_chars"),
      sum(col("n_tokens")).as("n_tokens"),
      min(col("doc_id")).as("min_id"),
      max(col("doc_id")).as("max_id"),
      bit_xor(fp).as("content_xor"))
  }

  /** WebDataset (tar-shard) export round-trip under the gate — the
    * third ingest/export boundary after WET (crawl-in) and TFRecord
    * (Example-out): documents export as `<doc_id>.txt` + `<doc_id>
    * .lang` members in per-partition ustar shards, read back through
    * the streaming tar walk + first-dot sample grouping, and verify
    * with the same per-lang XOR manifest as the tfrecord gate —
    * shared oracle construction, so the two export formats are held
    * to the identical byte-fidelity bar. Any header-arithmetic,
    * padding, UTF-8, or grouping fault splits a fingerprint.
    */
  def pipelineWebdatasetQ(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_wd").toString
    val docs = Tables.documents(spark, sfDir)
      .filter(expr("doc_id % 3 = 0"))
      .select(col("doc_id").cast("string").as("key"),
        col("text").as("txt"), col("lang"))
    graft.sources.WebDataset.write(docs.repartition(4), "key", dir)
    val back = graft.sources.WebDataset
      .read(spark, s"$dir/*.tar", Seq("txt", "lang"))
      .select(col("key").cast("long").as("doc_id"),
        decode(col("txt"), "UTF-8").as("text"),
        decode(col("lang"), "UTF-8").as("lang"))
    val fp = graft.util.Hashing.portableHash64(concat(
      col("doc_id").cast("string"), lit(":"), md5(col("text"))))
    back.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(length(col("text")).cast("long")).as("n_chars"),
      min(col("doc_id")).as("min_id"),
      max(col("doc_id")).as("max_id"),
      bit_xor(fp).as("content_xor"))
  }

  /** The IMAGE arm of the WebDataset boundary (the LAION shard
    * convention: per sample an image member + a `.json` metadata
    * member keyed by the same basename). Image bytes are deterministic
    * 8×8 24-bit BMPs built pixel-by-pixel from the quantized
    * embedding (Multimodal.buildBmp — a real ImageIO-decodable image
    * whose byte LENGTH is a pure function of geometry, which is what
    * a cross-engine oracle can pin without a codec); metadata is a
    * JSON string both engines can render. Self-verifying round trip:
    * shards are read back with the committed tar reader, the json XOR
    * fingerprint replays in DuckDB, the per-image byte mass must be
    * exactly 246·n, and `n_img_mismatch` counts read-back image
    * members that differ byte-for-byte from a regeneration — the
    * oracle pins it at ZERO, so any tar-layer corruption of binary
    * members hash-fails the gate.
    */
  def pipelineWdsImgQ(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_wdi").toString
    val src = Tables.embeddings(spark, sfDir)
      .filter(expr("vec_id % 4 = 0"))
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    def bmpOf(qv: Seq[Long]): Array[Byte] =
      graft.ops.Multimodal.buildBmp(8, 8,
        qv.take(64).map(q => (((q % 256) + 256) % 256).toInt))
    val jsonExpr = concat(lit("{\"vec_id\":"), col("vec_id").cast("string"),
      lit(",\"dim\":"), size(col("qv")).cast("string"),
      lit(",\"qsum\":"), aggregate(col("qv"), lit(0L), _ + _).cast("string"),
      lit("}"))
    val samplesDf = src.withColumn("json", jsonExpr)
      .select(col("vec_id"), col("qv"), col("json"))
      .as[(Long, Seq[Long], String)]
      .map { case (id, qv, js) => (id.toString, bmpOf(qv), js) }
      .toDF("key", "bmp", "json")
    graft.sources.WebDataset.write(samplesDf.repartition(4), "key", dir)
    val back = graft.sources.WebDataset
      .read(spark, s"$dir/*.tar", Seq("bmp", "json"))
      .select(col("key").cast("long").as("vec_id"), col("bmp"),
        decode(col("json"), "UTF-8").as("js"))
    val regen = src.as[(Long, Seq[Long])]
      .map { case (id, qv) => (id, bmpOf(qv)) }
      .toDF("vec_id", "bmp_expected")
    val fp = graft.util.Hashing.portableHash64(concat(
      col("vec_id").cast("string"), lit(":"), md5(col("js"))))
    back.join(regen, Seq("vec_id"))
      .select(pmod(col("vec_id"), lit(8L)).as("bucket"),
        length(col("bmp")).cast("long").as("img_len"), fp.as("fp"),
        when(col("bmp") === col("bmp_expected"), 0L).otherwise(1L).as("mm"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_samples"),
        sum(col("img_len")).as("img_bytes"),
        bit_xor(col("fp")).as("json_xor"),
        sum(col("mm")).as("n_img_mismatch"))
  }

  /** The float_list arm of the TFRecord boundary under the gate:
    * embeddings export to tfrecord (packed little-endian float32
    * lists), read back, and verify via the 1e-4 integer quantization
    * the sim/ operators use — per 8-way id bucket, vector count,
    * dimension-sum mass, and an XOR fingerprint over (id ‖ quantized
    * vector). float32 → wire → float32 is bit-identity, so the oracle
    * replays the fingerprints from the embeddings parquet directly;
    * any mantissa bent by the packed-float encode/decode fails the
    * hash. Same one-groupBy self-verification shape as the documents
    * export.
    */
  def pipelineTfrecordEmbQ(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_tfre").toString
    val vecs = Tables.embeddings(spark, sfDir)
      .filter(expr("vec_id % 2 = 0"))
      .select(col("vec_id"), col("embedding"))
    graft.sources.TfRecord.write(vecs.repartition(4), dir)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val back = graft.sources.TfRecord.read(
      spark, s"$dir/*.tfrecord", schema)
    embExportManifest(back)
  }

  /** The embedding-export fidelity manifest shared by every vector
    * container gate (TFRecord, safetensors): per id-bucket counts,
    * dim mass, quantized value mass and an id:content XOR — computed
    * over the ROUND-TRIPPED rows, while the oracle recomputes it from
    * the source table, so any write/read byte damage hash-fails.
    */
  private def embExportManifest(back: DataFrame): DataFrame = {
    val qv = expr(
      "transform(embedding, x -> cast(floor(cast(x as double) * 10000)" +
        " as bigint))")
    val qvStr = expr(
      "concat_ws(',', transform(embedding, x -> cast(cast(floor(" +
        "cast(x as double) * 10000) as bigint) as string)))")
    val fp = graft.util.Hashing.portableHash64(concat(
      col("vec_id").cast("string"), lit(":"), md5(qvStr)))
    back.select(pmod(col("vec_id"), lit(8L)).as("bucket"),
        col("vec_id"), size(col("embedding")).cast("long").as("dim"),
        aggregate(qv, lit(0L), (a, x) => a + x).as("qsum"), fp.as("fp"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"), sum(col("dim")).as("dim_mass"),
        sum(col("qsum")).as("qsum_mass"), bit_xor(col("fp")).as("content_xor"))
  }

  /** safetensors export round-trip gate (graft.sources.Safetensors,
    * NEW r16): the even-half embeddings leave as 4 partition shards
    * of the HF tensor container (u64-LE header length ‖ JSON header ‖
    * contiguous F32 [n, dim] + I64 [n] tensors, little-endian) and
    * come back through the streaming reader; the manifest is the
    * shared [[embExportManifest]] and the oracle recomputes it from
    * the source table — the same byte-fidelity contract as every
    * other export gate.
    */
  def pipelineSafetensorsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_st").toString
    val vecs = Tables.embeddings(spark, sfDir)
      .filter(expr("vec_id % 2 = 0"))
      .select(col("vec_id"), col("embedding"))
    graft.sources.Safetensors.write(vecs.repartition(4), dir,
      "vec_id", "embedding")
    embExportManifest(graft.sources.Safetensors.read(spark,
      s"$dir/*.safetensors", "vec_id", "embedding"))
  }

  /** Half-precision safetensors legs (r17): the odd-half embeddings
    * PRE-QUANTIZED to floor(x·256)/256 — at this table's value range
    * every quantized value carries ≤ 8 significant bits, under BOTH
    * half significands (11 for F16, 8 for BF16) — so the F16 and BF16
    * write→read legs are LOSSLESS and the DuckDB oracle replays only
    * the pre-quantization: any packing, rounding-path, or endianness
    * bug in the two-byte codecs corrupts the values and hash-fails,
    * while the non-representable ROUNDING arithmetic (RNE ties,
    * subnormals, specials) is pinned by SafetensorsSpec. The BF16 leg
    * rides at vec_id+200000 so the two legs' fingerprints cannot
    * cancel in the xor.
    */
  def pipelineSafetensorsHalfQ(spark: SparkSession, sfDir: String): DataFrame = {
    val pre = Tables.embeddings(spark, sfDir)
      .filter(expr("vec_id % 2 = 1"))
      .select(col("vec_id"), expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 256)" +
          " / 256 as float))").as("embedding"))
    val d16 = java.nio.file.Files.createTempDirectory("graft_st16").toString
    val dbf = java.nio.file.Files.createTempDirectory("graft_stbf").toString
    graft.sources.Safetensors.write(pre.repartition(2), d16,
      "vec_id", "embedding", dtype = "F16")
    graft.sources.Safetensors.write(
      pre.withColumn("vec_id", col("vec_id") + 200000L).repartition(2),
      dbf, "vec_id", "embedding", dtype = "BF16")
    embExportManifest(
      graft.sources.Safetensors.read(spark, s"$d16/*.safetensors",
          "vec_id", "embedding")
        .unionByName(graft.sources.Safetensors.read(spark,
          s"$dbf/*.safetensors", "vec_id", "embedding")))
  }

  /** Frequency-decade profile of the dedup token key (graft.ops
    * .Profile.keyDistribution): how many distinct tokens occur 1–9,
    * 10–99, … times across the corpus. A power-law tail here is the
    * signal that an inverted-index self-join needs df-capping/salting
    * (exactly why ngramJaccard prefix-filters) — the profile IS the
    * pre-flight check for every candidate-generation operator.
    */
  def textTokenDfProfileQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.keyDistribution(
      Dedup.tokenSet(Tables.documents(spark, sfDir), "text", "doc_id"), "tok")

  def textBigramLogprobQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.bigramLogProb(Tables.documents(spark, sfDir), "text", "doc_id")

  /** CCNet perplexity-bucket routing (TextAnalysis.pplBucket): every
    * scored doc labeled head/middle/tail by exact tercile of its
    * integer bigram-LM cost — oracle replays LM, cost quantization,
    * lower-quantile edges and the labels.
    */
  def textPplBucketQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.pplBucket(Tables.documents(spark, sfDir), "text", "doc_id")

  /** Token-budget mixture sampling (graft.ops.Sampling.tokenBudget):
    * per-language token budgets, rates DERIVED from the corpus totals
    * (one |strata|-row aggregate broadcast back onto the scan) rather
    * than hand-tuned — the actual data-mixing primitive. The oracle
    * replays totals, rates, and the hash threshold bit-for-bit
    * (floor() mirrors Spark's double→long truncation).
    */
  def sampleTokenBudgetQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.tokenBudget(
      Tables.documents(spark, sfDir).select("doc_id", "lang", "text"),
      "lang", "doc_id",
      size(split(TextAnalysis.normalize(col("text")), " ")),
      budgets = Map("en" -> 2000L, "de" -> 1000L), defaultBudget = 1500L)
      .select("doc_id", "lang", "n_tokens")

  /** Proportional mixture sampling (graft.ops.Sampling.mixture):
    * target the output at 5:3:12:1… parts per source under one total
    * token budget, with per-source rates derived by self-normalizing
    * the integer weights against the corpus's own token totals. src2's
    * weight is deliberately oversized so its derived rate caps at 1.0
    * and the `least` branch is exercised. The oracle replays weights,
    * exact Σw, the fixed double chain w·B/Σw/tot, and the hash
    * threshold bit-for-bit.
    */
  def sampleMixtureQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.mixture(
      Tables.documents(spark, sfDir).select("doc_id", "source", "text"),
      "source", "doc_id",
      size(split(TextAnalysis.normalize(col("text")), " ")),
      weights = Map("src0" -> 5L, "src1" -> 3L, "src2" -> 12L),
      defaultWeight = 1L, totalBudget = 6000L)
      .select("doc_id", "source", "n_tokens")

  /** Temperature-scaled mixture at T=2 (graft.ops.Sampling
    * .temperatureMixture): weights √share per source — the sqrt path
    * is correctly rounded on both engines, so the gate is exact by
    * construction.
    */
  def sampleTemperatureQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.temperatureMixture(
      Tables.documents(spark, sfDir).select("doc_id", "source", "text"),
      "source", "doc_id",
      size(split(TextAnalysis.normalize(col("text")), " ")),
      temperature = 2.0, totalBudget = 6000L)
      .select("doc_id", "source", "n_tokens")

  /** DSIR importance scoring (graft.ops.Sampling.importance): the
    * exemplar "target distribution" is a CONTENT-defined slice (every
    * 3rd doc that mentions 'join' — the corpus is distributionally
    * homogeneous, so a random slice would separate nothing), the
    * remaining pool is scored by the quantized hashed-n-gram
    * log-likelihood ratio, and the target-like docs (score > 0) are
    * kept. The oracle recomputes the bucket counts, totals, ln-ratio
    * weight table and exact long score sums in SQL.
    */
  def sampleImportanceQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.importance(
      Tables.documents(spark, sfDir).select("doc_id", "text"),
      "text", "doc_id",
      isTarget = expr("doc_id % 3 = 0") &&
        array_contains(split(TextAnalysis.normalize(col("text")), " "), "join"))
      .filter(col("score") > 0)

  /** CCNet-style line-level dedup (graft.ops.Dedup.dedupLines) over
    * the dup-injected corpus. The synthetic corpus has no newlines, so
    * the query first segments each document into 8-token "lines"
    * (pure array arithmetic, replayed by the oracle via
    * unnest(range)/list_slice) — every 50th doc's mirror copy then
    * makes all of its lines corpus-global duplicates, which the
    * operator must strip from BOTH copies, while boilerplate segments
    * shared across otherwise-distinct docs vanish everywhere.
    */
  def dedupLinesQ(spark: SparkSession, sfDir: String): DataFrame = {
    val words = split(TextAnalysis.normalize(col("text")), " ")
    val seg = dupCorpus(spark, sfDir).select(col("doc_id"), col("text"))
      .withColumn("lined",
        array_join(
          transform(
            sequence(lit(0), ceil(size(words) / lit(8.0)).cast("int") - 1),
            i => array_join(slice(words, i * 8 + 1, lit(8)), " ")),
          "\n"))
    Dedup.dedupLines(seg, "lined", "doc_id", maxCount = 1L)
  }

  /** Exact-substring span dedup (graft.ops.Dedup.dedupSpans) over the
    * dup-injected corpus, k=8 tokens: the mirror copies make every
    * 8-token window of theirs corpus-duplicated (both copies vanish
    * entirely), and any 8-gram shared verbatim between otherwise
    * distinct docs is struck from each while the unique remainder
    * survives — the mid-document granularity neither dedup_lines
    * (fixed boundaries) nor dedup_exact (whole docs) can reach.
    */
  def dedupSpansQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.dedupSpans(
      dupCorpus(spark, sfDir)
        .select(col("doc_id"), TextAnalysis.normalize(col("text")).as("nt")),
      "nt", "doc_id", k = 8, maxCount = 1L)

  /** Per-source corpus-drift monitor (graft.ops.Profile.tokenDrift):
    * KL(source ‖ corpus) as an integer-exact micro-nat sum.
    */
  def textKlDriftQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.tokenDrift(Tables.documents(spark, sfDir), "text", "source")
      .withColumnRenamed("stratum", "source")

  /** Deterministic training-shard addressing
    * (graft.ops.Sampling.shards): every doc gets a reproducible
    * (shard, pos) under the corpus-wide pseudo-random shuffle.
    */
  def sampleShardQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.shards(
      Tables.documents(spark, sfDir).select("doc_id", "source"),
      "doc_id", numShards = 8)

  /** Curriculum training order (graft.ops.Sampling.curriculum):
    * quality bands from the integer micro mean-token-length score,
    * deterministic hash shuffle within each band.
    */
  def sampleCurriculumQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.curriculum(Tables.documents(spark, sfDir),
      "text", "doc_id")

  /** Column-level data-quality profile (graft.ops.Profile
    * .tableProfile) over documents with nulls deterministically
    * injected into `lang` (every 97th doc) so the null-counting path
    * is exercised, not just trivially zero.
    */
  def profileTableQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.tableProfile(
      Tables.documents(spark, sfDir)
        .withColumn("lang",
          when(expr("doc_id % 97 = 0"), lit(null: String))
            .otherwise(col("lang"))),
      Seq("doc_id", "text", "lang", "source", "n_chars"))

  /** Value-distribution entropy per column over the same null-injected
    * documents view as profile_table: doc_id ≈ ln(n) (unique), lang /
    * source low and skew-sensitive, the null axis exercised.
    */
  def profileEntropyQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.columnEntropy(
      Tables.documents(spark, sfDir)
        .withColumn("lang",
          when(expr("doc_id % 97 = 0"), lit(null: String))
            .otherwise(col("lang"))),
      Seq("doc_id", "lang", "source"))

  /** Equi-depth 8-bin histograms over lineitem numerics — the
    * skew-proof distribution view; edges double as range-partition
    * split points.
    */
  def profileHistogramEqQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.equiDepthHistogram(Tables.lineitem(spark, sfDir),
      Seq("l_quantity", "l_extendedprice", "l_discount"), bins = 8)

  /** Equi-width 16-bin histograms over lineitem's numeric columns
    * (graft.ops.Profile.histogram) — the binned distribution view of
    * the profiling family.
    */
  def profileHistogramQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.histogram(Tables.lineitem(spark, sfDir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"), nBins = 16)

  def profileCorrQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.corrMatrix(Tables.lineitem(spark, sfDir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  def embQuantizeQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.quantizeInt8(Tables.embeddings(spark, sfDir),
      "embedding", "vec_id")

  def profileEmbeddingsQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.embProfile(Tables.embeddings(spark, sfDir),
      "embedding", "vec_id", dim = 64)

  /** Sketched column-distinct profile (graft.ops.Sketch
    * .distinctCount) — profile_table's n_distinct re-asked with a
    * k=64 KMV sketch over the SAME unpivoted corpus (including the
    * injected lang nulls, which the sketch must skip like count(col)
    * does). At gate scale both estimator branches run: doc_id/text
    * saturate the sketch (estimated), lang/source stay under k
    * (exact). Integer-exact end to end, so the estimate itself
    * hash-gates against DuckDB.
    */
  def profileSketchQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .withColumn("lang",
        when(expr("doc_id % 97 = 0"), lit(null: String))
          .otherwise(col("lang")))
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val stackArgs = cols.map(c => s"'$c', cast(`$c` as string)").mkString(", ")
    graft.ops.Sketch.distinctCount(
      d.selectExpr(s"stack(${cols.size}, $stackArgs) as (col_name, val)"),
      "col_name", col("val"), k = 64)
  }

  /** Sketched cross-source overlap matrix (graft.ops.Sketch.overlap)
    * — dedup_source_overlap's diagnostic from per-source k=64 KMV
    * sketches instead of the corpus self-join: the same mirrored
    * corpus, but only |sources|·k sketch rows survive the scan and
    * the pair matrix is a product of sketches. est_shared
    * approximates the exact query's n_shared within ~1/sqrt(k);
    * unsaturated pairs are exact.
    */
  def dedupOverlapSketchQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val corpus = d.select(col("source"), col("text")).unionByName(
      d.filter(expr("doc_id % 50 = 0"))
        .select(lit("mirror").as("source"), col("text")))
    graft.ops.Sketch.overlap(corpus, "source",
      TextAnalysis.normalize(col("text")), k = 64)
  }

  /** Sampled-quantile profile (graft.ops.Profile.quantileSketch):
    * p50/p90/p99 of lineitem's numeric columns over a deterministic
    * 10% hash row-sample — the quantile member of the sketched
    * profiling family; the sample predicate fuses into the scan and
    * the rounded estimates themselves cross-engine gate.
    */
  def profileQuantilesQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.quantileSketch(
      Tables.lineitem(spark, sfDir),
      expr("l_orderkey * 10 + l_linenumber"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
      ratePpm = 100000L)

  /** Pct grid + rank-error bound of the KLL profile gate — shared with
    * the oracle builder so the two can never drift. */
  private[queries] val kllPcts = Seq(1L, 10L, 25L, 50L, 75L, 90L, 99L)
  private[queries] val kllCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private[queries] val kllBoundPpm = 25000L // 2.5% of n, vs ~1.3% typical at k=256

  /** Mergeable-quantile profile via the KLL typed Aggregator
    * (graft.ops.KllAgg) — profile_quantiles_sketch's guaranteed-error
    * sibling and the r12-verdict ask: where the hash-sample path is
    * honest-but-sample-bounded, the KLL ladder carries a ~O(1/k)
    * rank-error bound that survives arbitrary merge trees, i.e.
    * exactly Spark's partial-agg shape at 1000 executors. Caveat on
    * the bound's strength: graft's KLL replaces the paper's random
    * coin with a deterministic content hash (Kll.coin), so the
    * Karnin/Lang/Liberty probabilistic proof does not literally
    * apply — the 2.5% gate below is EMPIRICALLY PINNED under that
    * deterministic coin (randomized merge-order/split cross-checks in
    * KllSpec + this oracle-replayed gate), not paper-proven; a stream
    * adversarially correlated with MurmurHash3 could in principle bias
    * compactions past it.
    *
    * Gate design (the property-gate pattern): a merged KLL object is
    * not byte-stable under Spark's nondeterministic shuffle-fetch
    * merge order, so the query publishes, per (column, pct), the exact
    * non-null count and WHETHER the sketch estimate's true rank span
    * intersects [target ± 2.5%·n] — computed Spark-side by joining the
    * 28 estimates back against the column for exact lt/le ranks. The
    * DuckDB oracle states the invariant (`1` for every grid cell), so
    * any bound violation — under any merge order either Verify run
    * happens to see — hash-fails the gate. The bound check is tie-
    * aware: a heavily tied column (l_quantity: ~50 distinct values)
    * makes count(<=q̂) overshoot any target by the tie mass, so the
    * check is on the rank INTERVAL (count(<q̂), count(<=q̂)], the
    * standard quantile-sketch error definition.
    *
    * Scale shape: one scan builds all four sketches in a single
    * ObjectHashAggregate (partial per partition, ~3k-double states
    * merged at 4 reduce keys); the estimates fold driver-side from 4
    * rows (bounded by construction, the kmeans-centroid discipline);
    * one more scan joins the broadcast 28-row grid for exact ranks.
    */
  /** HLL distinct estimates over (doc_id, lang, source) joined
    * against gate-side EXACT distinct counts (Profile.hllDistinct —
    * the relational register-file formulation): the oracle replays
    * the whole estimator — registers from the shared md5 arithmetic,
    * the exact integer harmonic denominator, the α·m²/S estimate with
    * linear-counting correction — AND the exact counts, so hash
    * equality certifies both the implementation and, via err_ppm,
    * that the estimate sits where HLL theory puts it (~1.6% at
    * p=12). The exact join is GATE-side verification only: the op
    * itself never pays a countDistinct (constant memory is its
    * point).
    */
  def profileDistinctHllQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val est = graft.ops.Profile.hllDistinct(
      d, Seq("doc_id", "lang", "source"), p = 12)
    val exact = d.selectExpr(
        "stack(3, 'doc_id', cast(doc_id as string), 'lang', lang, " +
          "'source', source) as (col_name, val)")
      .filter(col("val").isNotNull)
      .groupBy("col_name").agg(countDistinct(col("val")).as("n_exact"))
    est.join(exact, Seq("col_name"))
      .select(col("col_name").as("column"), col("n_regs"), col("hll_est"),
        col("n_exact"),
        expr("(hll_est - n_exact) * 1000000 div n_exact").as("err_ppm"))
  }

  /** The stacked (col_name, val) frame [[profileQuantilesKllQ]] folds,
    * and its sketch-aggregation frame — named so the query and the
    * plan audit ([[graft.Explain]]'s `_kll_agg_native`/`_kll_agg_udaf`)
    * share one definition: the query's own returned plan is the
    * POST-collect verification join, which never shows the aggregate.
    */
  private[graft] def kllStacked(spark: SparkSession, sfDir: String): DataFrame = {
    val stackArgs = kllCols.map(c => s"'$c', cast(`$c` as double)").mkString(", ")
    Tables.lineitem(spark, sfDir)
      .selectExpr(s"stack(${kllCols.size}, $stackArgs) as (col_name, val)")
      .filter(col("val").isNotNull)
  }

  private[graft] def kllAggFrame(spark: SparkSession, sfDir: String,
                                 native: Boolean): DataFrame = {
    import org.apache.spark.sql.Encoders
    val k = 256
    val stacked = kllStacked(spark, sfDir)
    // Native TypedImperativeAggregate when registered (no per-row
    // encoder round trip — graft.functions.KllSketchAgg), udaf
    // fallback otherwise; identical sketch arithmetic and one output
    // struct shape either way (the graft_dot probe discipline).
    val kllOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (native)
        c => call_function("graft_kll", c, lit(k))
      else {
        val kllUdaf = udaf(new graft.ops.KllAgg(k), Encoders.scalaDouble)
        c => kllUdaf(c)
      }
    // A small-SF table is one parquet split, which would fold EVERY
    // update in one task; spread the partial build when splits are
    // scarce. At cluster scale splits are plentiful and no shuffle is
    // added — the partial-per-split + 4-key merge shape is the point
    // of a mergeable sketch.
    // hash partitioning, not round-robin: repartition(n) alone sorts
    // the whole input locally first (sortBeforeRepartition), which on
    // the single source task costs more than it buys
    val spread =
      if (stacked.rdd.getNumPartitions < 32)
        stacked.repartition(32, col("col_name"), col("val"))
      else stacked
    spread.groupBy("col_name").agg(kllOf(col("val")).as("sk"))
  }

  def profileQuantilesKllQ(spark: SparkSession, sfDir: String): DataFrame = {
    val stacked = kllStacked(spark, sfDir)
    val sketches = kllAggFrame(spark, sfDir,
      native = spark.catalog.functionExists("graft_kll")).collect()
    val est = sketches.map { row =>
      val name = row.getString(0)
      val skRow = row.getStruct(1)
      // Row decoding hands back mutable ArraySeqs; the state type wants
      // immutable Seqs — copy (≤ ~3k doubles per sketch)
      val state = graft.ops.KllState(
        skRow.getInt(0), skRow.getLong(1), skRow.getLong(2),
        skRow.getSeq[scala.collection.Seq[Double]](3).map(_.toVector).toVector)
      (name, kllPcts.map(p => graft.ops.Kll.quantile(state, p).get))
    }.toSeq
    // Rank verification in ONE pass over the stacked rows: the previous
    // shape broadcast-joined a (col_name, pct, qhat) grid, replicating
    // every stacked row ×|pcts| before the (col_name, pct) aggregate.
    // Carry the |pcts| qhats as one array per col_name instead and fold
    // |pcts| conditional sums per row, exploding to the (col_name, pct)
    // grain only AFTER aggregation (|cols| rows). Same comparisons,
    // same counts (each col_name had exactly one grid row per pct, so
    // the old per-(col,pct) `n` equals the per-col count), ×|pcts|
    // fewer rows through the join and the partial-aggregate hash map.
    val estDf = spark.createDataFrame(est).toDF("col_name", "qhats")
    val nP = kllPcts.size
    val ltSums = (0 until nP).map(i =>
      sum(when(col("val") < element_at(col("qhats"), i + 1), 1L)
        .otherwise(0L)).as(s"__lt$i"))
    val leSums = (0 until nP).map(i =>
      sum(when(col("val") <= element_at(col("qhats"), i + 1), 1L)
        .otherwise(0L)).as(s"__le$i"))
    val perPct = (0 until nP).map(i =>
      struct(lit(kllPcts(i)).as("pct"),
        col(s"__lt$i").as("__lt"), col(s"__le$i").as("__le")))
    stacked.join(broadcast(estDf), Seq("col_name"))
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n"), (ltSums ++ leSums): _*)
      .select(col("col_name"), col("n"), explode(array(perPct: _*)).as("e"))
      .select(col("col_name"), col("e.pct").as("pct"), col("n"),
        col("e.__lt").as("__lt"), col("e.__le").as("__le"))
      .withColumn("__target", expr("(pct * n + 99) div 100"))
      .withColumn("__tol", expr(s"(n * $kllBoundPpm) div 1000000"))
      .withColumn("within_bound",
        when(col("__lt") + 1 <= col("__target") + col("__tol") &&
          col("__le") >= col("__target") - col("__tol"), 1L).otherwise(0L))
      .select(col("col_name"), col("pct"), col("n"), col("within_bound"))
  }

  /** Arrow model-scoring seam (graft.ops.ArrowEmbed.embedStage) — the
    * Spark → model-worker → vectors handoff as a gated stage: documents
    * cross into Arrow record batches (≤256 rows, the mapInPandas wire
    * shape), the deterministic HashStubEmbedder answers with
    * fixed_size_list<float32>[16] vectors whose components are
    * md5-derived m/1000 floats OF THE TEXT BYTES, and the query emits
    * per doc the dim and the integer checksum Σ round(f·1000) — exactly
    * recoverable from float32, so the DuckDB oracle replays the "model"
    * arithmetically and any UTF-8 mangling in the VarChar round-trip
    * hash-fails the gate. Map-only, no shuffle.
    */
  def embArrowStageQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.ArrowEmbed.embedStage(
      Tables.documents(spark, sfDir).select("doc_id", "text"),
      "text", "doc_id", new graft.ops.ArrowEmbed.HashStubEmbedder(16),
      maxBatchRows = 256)
      .select(col("doc_id"),
        size(col("embedding")).cast("long").as("dim"),
        expr("aggregate(transform(embedding, " +
          "f -> cast(round(cast(f as double) * 1000) as bigint)), " +
          "cast(0 as bigint), (a, x) -> a + x)").as("checksum"))

  /** The embed stage riding the CONFIG-DRIVEN runner (Pipeline
    * .assemble — the first gated query to exercise the JSON path
    * end-to-end): per-source cap → Arrow embed annotation, composed
    * from the same config a user would ship, then reduced to the
    * integer checksum the oracle can replay (cap rank + stub
    * arithmetic). Proves the stage VOCABULARY wiring — stage order,
    * carry columns through the id rejoin, dim/maxBatchRows config
    * plumbing — not just the op, which C35 gates alone.
    */
  def pipelineEmbedQ(spark: SparkSession, sfDir: String): DataFrame = {
    val cfg =
      s"""{"input": "$sfDir/documents.parquet",
         | "textCol": "text", "idCol": "doc_id",
         | "stages": [
         |   {"op": "group_cap", "group": "source", "k": 5},
         |   {"op": "embed", "dim": 8, "maxBatchRows": 128} ] }""".stripMargin
    graft.Pipeline.assemble(spark, cfg)
      .select(col("doc_id"), col("source"),
        expr("aggregate(transform(embedding, " +
          "f -> cast(round(cast(f as double) * 1000) as bigint)), " +
          "cast(0 as bigint), (a, x) -> a + x)").as("checksum"))
  }

  /** Per-source doc cap (graft.ops.Sampling.groupCap): at most 7 docs
    * per source, chosen by deterministic hash order — the per-domain
    * cap of a crawl-curation pipeline.
    */
  def sampleGroupCapQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.groupCap(
      Tables.documents(spark, sfDir).select("doc_id", "source"),
      "source", "doc_id", k = 7)

  /** Gopher-rule composite filter (graft.ops.TextAnalysis
    * .gopherFilter) at published thresholds — per-doc rule bitmask.
    */
  def textGopherQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.gopherFilter(Tables.documents(spark, sfDir), "text", "doc_id")

  /** Character-entropy quality signal (graft.ops.TextAnalysis
    * .entropy): integer micro-nat Shannon entropy per doc —
    * zero-shuffle, hash-gated including the quantized log sums.
    */
  def textEntropyQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.entropy(Tables.documents(spark, sfDir), "text", "doc_id")

  /** MOSS winnowing fingerprints (TextAnalysis.winnow): per-doc
    * selected char-8-gram hashes under a 4-hash window — zero
    * shuffles, the selection itself hash-gates cross-engine.
    */
  def textWinnowQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.winnow(Tables.documents(spark, sfDir), "text", "doc_id",
      k = 8, w = 4)

  /** Substring-level near-dup pairs over winnowed fingerprints
    * (TextAnalysis.winnowPairs) on the thinned dup-injected corpus —
    * the %20 thinning keeps the %100==0 originals AND their +100000
    * copies, so planted pairs exist (dedup_ngram_jaccard's corpus
    * reasoning).
    */
  def dedupWinnowQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.winnowPairs(
      dupCorpus(spark, sfDir).filter(expr("doc_id % 20 = 0")),
      "text", "doc_id", k = 8, w = 4, minShared = 10, maxDf = 100)

  /** Asymmetric containment over the same thinned dup corpus
    * (TextAnalysis.winnowContainment) — the quotation detector:
    * exact copies score 10⁶ both sides, partial overlaps split.
    */
  def dedupWinnowContainQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.winnowContainment(
      dupCorpus(spark, sfDir).filter(expr("doc_id % 20 = 0")),
      "text", "doc_id", k = 8, w = 4, minShared = 10, maxDf = 100)

  /** End-to-end winnow curation composition — the Pipeline
    * `dedup_winnow` stage (winnowed-fingerprint pairs →
    * Dedup.connectedComponents → keep the min id per cluster) driven
    * through the REAL config machinery (Pipeline.applyStage with a
    * parsed JSON stage node) on the thinned dup corpus, so the whole
    * pairs→clusters→keeper chain hash-gates as ONE query instead of
    * only its pieces (pipeline_clean_corpus's sibling for
    * substring-level dedup; the oracle replays the clusters with a
    * recursive reachability CTE).
    */
  def pipelineWinnowQ(spark: SparkSession, sfDir: String): DataFrame = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      """{"op": "dedup_winnow", "k": 8, "w": 4, "minShared": 10, "maxDf": 100}""")
    graft.Pipeline.applyStage(
        dupCorpus(spark, sfDir).filter(expr("doc_id % 20 = 0")),
        "dedup_winnow", node, "text", "doc_id")
      .select("doc_id", "lang", "n_chars")
  }

  /** Quality-weighted per-source sample (graft.ops.Sampling
    * .weightedGroupSample): 5 docs per source with inclusion odds
    * ∝ n_chars — deterministic A-ES exponential keys.
    */
  /** Epoch planning over the same strata/weights/budget as
    * sample_mixture — the report the sampler's rates derive from.
    */
  def sampleEpochsQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.epochPlan(
      Tables.documents(spark, sfDir).select("doc_id", "source", "text"),
      "source",
      size(split(TextAnalysis.normalize(col("text")), " ")),
      weights = Map("src0" -> 5L, "src1" -> 3L, "src2" -> 12L),
      defaultWeight = 1L, totalBudget = 6000L)

  def sampleWeightedQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sampling.weightedGroupSample(
      Tables.documents(spark, sfDir).select("doc_id", "source", "n_chars"),
      "source", "doc_id", col("n_chars"), k = 5)

  /** Canonical-URL dedup (graft.ops.TextAnalysis.urlDedup) over a
    * deterministically synthesized URL column — recrawl variants
    * (www prefix, case, query string, fragment, trailing slash) of
    * the same page collapse to one canonical key.
    */
  def dedupUrlQ(spark: SparkSession, sfDir: String): DataFrame = {
    val url = concat(lit("https://"),
      when(expr("doc_id % 3 = 0"), lit("WWW.")).otherwise(lit("")),
      col("source"), lit(".example.com/p/"),
      // div 40, NOT mod: source is id-mod-correlated in the testdata,
      // so a mod path would collapse everything into 40 giant groups;
      // div gives per-source recrawl PAIRS (ids s+40b and s+20+40b)
      expr("doc_id div 40").cast("string"),
      when(expr("doc_id % 4 = 0"), lit("?utm_source=x"))
        .when(expr("doc_id % 4 = 1"), lit("#frag"))
        .when(expr("doc_id % 4 = 2"), lit("/"))
        .otherwise(lit("")))
    TextAnalysis.urlDedup(
      Tables.documents(spark, sfDir).withColumn("url", url), "url", "doc_id")
  }

  /** END-TO-END corpus health report as ONE gated query — the
    * monitoring go/no-go sibling of the two assembly pipelines
    * (C14/C18): column-profile checks over documents, per-source KL
    * drift, and the per-type anomaly tally over events, normalized to
    * (check, key, value_long) rows. One query an operator gates a
    * training run on; the DuckDB oracle replays all three branches.
    */
  def pipelineMonitorQ(spark: SparkSession, sfDir: String): DataFrame = {
    val prof = graft.ops.Profile.tableProfile(
      Tables.documents(spark, sfDir), Seq("doc_id", "text", "lang", "source"))
      .select(explode(array(
        struct(lit("null_count").as("check"), col("col_name").as("key"),
          col("n_nulls").as("value_long")),
        struct(lit("distinct_count").as("check"), col("col_name").as("key"),
          col("n_distinct").as("value_long")))).as("r"))
      .select("r.*")
    val drift = graft.ops.Profile
      .tokenDrift(Tables.documents(spark, sfDir), "text", "source")
      .select(lit("kl_drift_micro").as("check"), col("stratum").as("key"),
        col("kl_micro").as("value_long"))
    val anom = graft.ops.Profile.zscoreOutliers(
      Tables.events(spark, sfDir).select("event_id", "event_type", "value"),
      "event_type", "value", zThreshold = 3.0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("value_long"))
      .select(lit("anomaly_count").as("check"), col("event_type").as("key"),
        col("value_long"))
    prof.unionByName(drift).unionByName(anom)
  }

  /** Integer-exact PageRank (graft.ops.Graph.pageRank) over a
    * deterministic hash-synthesized link graph on the document id
    * space: outdeg(v) = 1 + h("prdeg:"+v) mod 3, the j-th link target
    * h("pr:"+j+":"+v) mod N — same augmented-corpus convention as
    * text_scrub, so the DuckDB oracle derives the identical graph and
    * replays all 3 integer power-iteration rounds bit-for-bit.
    */
  def graphPagerankQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (nodes, edges) = pagerankGraph(spark, sfDir)
    graft.ops.Graph.pageRank(nodes, edges, iters = 3)
      .select(col("id").as("doc_id"), col("rank_micro"))
  }

  /** The hash-synthesized (nodes, edges) graph behind `graph_pagerank`
    * — split out so PlanAuditSpec can rebuild the per-iteration plan
    * un-checkpointed and BenchStress can scale the node set.
    */
  def pagerankGraph(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    graft.ops.Graph.hashGraph(
      Tables.documents(spark, sfDir).select(col("doc_id").as("id")))

  /** Degree-oriented triangle counts on the same hash-synthesized
    * link graph as graph_pagerank (shared derivation, shared oracle
    * CTEs); the oracle counts triangles by the naive a<b<c triple
    * join — algorithm-independent truth the oriented wedge count must
    * reproduce exactly.
    */
  def graphTrianglesQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, edges) = pagerankGraph(spark, sfDir)
    graft.ops.Graph.triangles(edges)
      .withColumnRenamed("id", "doc_id")
  }

  /** 2-core of the hash link graph after 3 peel rounds (fixed rounds
    * gate the mechanism; the oracle chains the same three peels).
    */
  def graphKcoreQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, edges) = pagerankGraph(spark, sfDir)
    graft.ops.Graph.kcore(edges, k = 2, rounds = 3)
      .withColumnRenamed("id", "doc_id")
  }

  /** graph_kcore's production form (toFixpoint — the r12-verdict ask):
    * peel until the set-checksum probe reports a round removed nothing,
    * capped at 50. The gate corpus converges within the gate's 3
    * rounds (spec-pinned equality), so the SAME unrolled-peel oracle
    * verifies it — and if a future corpus peeled deeper, the fixpoint
    * result would honestly diverge from the 3-round oracle and fail
    * loudly rather than gate a partial peel. */
  def graphKcoreFixpointQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, edges) = pagerankGraph(spark, sfDir)
    graft.ops.Graph.kcore(edges, k = 2, rounds = 50, toFixpoint = true)
      .withColumnRenamed("id", "doc_id")
  }

  /** Connected components on a SPARSIFIED undirected view of the hash
    * link graph (keep edges whose cc-hash ≡ 0 mod 3, so the graph
    * fragments into many non-trivial components instead of one giant
    * one) — the general graph-CC member the family was missing:
    * pagerank/triangles/kcore score within structure, CC finds the
    * structure. Runs the star-contraction components
    * (Dedup.connectedComponentsStar — the two-hop MapReduce CC with
    * per-round convergence checksums, the same engine dedup clustering
    * uses); isolated nodes label themselves. The oracle derives the
    * identical edge set from the shared md5 arithmetic and labels
    * components by min reachable id via a recursive CTE — exactly what
    * star contraction converges to.
    */
  def graphCcQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (nodes, edges) = pagerankGraph(spark, sfDir)
    val sparse = edges.filter(col("src") =!= col("dst"))
      .filter(pmod(graft.util.Hashing.portableHash64(
        concat(lit("cc:"), col("src").cast("string"), lit(":"),
          col("dst").cast("string"))), lit(3L)) === 0L)
      .select(col("src").as("id_a"), col("dst").as("id_b"))
    val cc = Dedup.connectedComponentsStar(sparse)
    nodes.join(cc, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("cluster"), col("id")).as("component"))
  }

  /** Strongly connected components (Graph.scc — min-label coloring
    * with per-color backward confirmation, inner fixpoints probed by
    * the set checksum) on the cc-sparsified DIRECTED hash graph with
    * planted reversals: every src % 10 = 0 sparse edge also ships its
    * reverse (the graph_reciprocity convention), because a uniform
    * subcritical digraph is near-all singleton SCCs — the reversals
    * seed genuine mutual cores (2-cycles that chain into larger SCCs
    * where the random edges cooperate). The oracle is
    * ALGORITHM-INDEPENDENT truth, not a replay: a recursive-CTE
    * forward closure, mutual pairs by self-join, scc = min mutually
    * reachable id (incl. self) — so the gate certifies the peeled
    * fixpoint result against the definition itself, and a corpus
    * needing deeper peels than the round caps fails loudly in Spark
    * rather than gating a partial labeling.
    */
  def graphSccQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (nodes, edges) = pagerankGraph(spark, sfDir)
    val sparse = edges.filter(col("src") =!= col("dst"))
      .filter(pmod(graft.util.Hashing.portableHash64(
        concat(lit("cc:"), col("src").cast("string"), lit(":"),
          col("dst").cast("string"))), lit(3L)) === 0L)
      .select(col("src"), col("dst"))
    val planted = sparse.filter(col("src") % 10 === 0)
      .select(col("dst").as("src"), col("src").as("dst"))
    graft.ops.Graph.scc(nodes, sparse.unionByName(planted),
        rounds = 60, propCap = 100)
      .select(col("id").as("doc_id"), col("scc"))
  }

  /** Condensation DAG of graph_scc's labeling (Graph.condensation —
    * quotient vertices are SCCs, edges carry distinct cross-SCC link
    * counts): the upstream/downstream ordering over the same planted
    * directed graph. The oracle derives its OWN scc labels from the
    * recursive-closure truth and builds the identical quotient, so
    * equality simultaneously certifies the edge counts AND (because
    * the truth's condensation is acyclic by definition) that the
    * Spark labeling merged every cycle.
    */
  def graphCondensationQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (nodes, edges) = pagerankGraph(spark, sfDir)
    val sparse = edges.filter(col("src") =!= col("dst"))
      .filter(pmod(graft.util.Hashing.portableHash64(
        concat(lit("cc:"), col("src").cast("string"), lit(":"),
          col("dst").cast("string"))), lit(3L)) === 0L)
      .select(col("src"), col("dst"))
    val planted = sparse.filter(col("src") % 10 === 0)
      .select(col("dst").as("src"), col("src").as("dst"))
    val e = sparse.unionByName(planted)
    val labels = graft.ops.Graph.scc(nodes, e, rounds = 60, propCap = 100)
    graft.ops.Graph.condensation(labels, e)
  }

  /** Contamination blast radius over the condensation DAG
    * (Graph.blastRadius, NEW r15 — the quotient's consumer, r14
    * verdict #6): every 97th doc plays a contaminated seed, and each
    * component within 6 DAG hops downstream reports (scc, min hop
    * dist, member count). Same scc/quotient derivation as
    * graph_condensation; the oracle derives its own labels from the
    * recursive-closure truth and walks the quotient with a
    * depth-bounded recursive closure, so the gate certifies the
    * fixed-round min-dist walk against the reachability definition.
    */
  def graphBlastRadiusQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (nodes, edges) = pagerankGraph(spark, sfDir)
    val sparse = edges.filter(col("src") =!= col("dst"))
      .filter(pmod(graft.util.Hashing.portableHash64(
        concat(lit("cc:"), col("src").cast("string"), lit(":"),
          col("dst").cast("string"))), lit(3L)) === 0L)
      .select(col("src"), col("dst"))
    val planted = sparse.filter(col("src") % 10 === 0)
      .select(col("dst").as("src"), col("src").as("dst"))
    val e = sparse.unionByName(planted)
    val labels = graft.ops.Graph.scc(nodes, e, rounds = 60, propCap = 100)
    val dag = graft.ops.Graph.condensation(labels, e)
    val seeds = nodes.filter(col("id") % 97 === 0)
    graft.ops.Graph.blastRadius(labels, dag, seeds, hops = 6)
  }

  /** Topological layering of the condensation DAG (Graph.topoLayers,
    * NEW r15 — the second quotient consumer): every component's layer
    * is the longest derivation chain feeding it under a 12-edge
    * bound; the oracle replays the depth-bounded longest path over
    * its own closure-derived quotient, so both engines agree by
    * construction even past the bound.
    */
  def graphTopoLayersQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (nodes, edges) = pagerankGraph(spark, sfDir)
    val sparse = edges.filter(col("src") =!= col("dst"))
      .filter(pmod(graft.util.Hashing.portableHash64(
        concat(lit("cc:"), col("src").cast("string"), lit(":"),
          col("dst").cast("string"))), lit(3L)) === 0L)
      .select(col("src"), col("dst"))
    val planted = sparse.filter(col("src") % 10 === 0)
      .select(col("dst").as("src"), col("src").as("dst"))
    val e = sparse.unionByName(planted)
    val labels = graft.ops.Graph.scc(nodes, e, rounds = 60, propCap = 100)
    val dag = graft.ops.Graph.condensation(labels, e)
    graft.ops.Graph.topoLayers(labels, dag, rounds = 12)
  }

  /** Label-propagation communities on the SAME sparsified undirected
    * view as graph_cc (shared derivation, shared oracle CTEs): 2
    * synchronous min-tie rounds; the oracle replays both voting
    * rounds through identical argmax tie order.
    */
  /** Multi-source BFS (Graph.bfs) on the cc-sparsified shared hash
    * graph: seeds = doc_id % 23 = 0, 3 rounds; per reached node the
    * hop distance and min-id nearest seed. The oracle replays the
    * three frontier rounds as explicit struct-min CTEs.
    */
  def graphBfsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (nodes, edges) = pagerankGraph(spark, sfDir)
    val sparse = edges.filter(col("src") =!= col("dst"))
      .filter(pmod(graft.util.Hashing.portableHash64(
        concat(lit("cc:"), col("src").cast("string"), lit(":"),
          col("dst").cast("string"))), lit(3L)) === 0L)
      .select(col("src"), col("dst"))
    val seeds = nodes.filter(expr("id % 23 = 0"))
    graft.ops.Graph.bfs(seeds, sparse, maxDepth = 3)
      .select(col("id").as("doc_id"), col("dist"), col("root"))
  }

  def graphLpaQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (nodes, edges) = pagerankGraph(spark, sfDir)
    val sparse = edges.filter(col("src") =!= col("dst"))
      .filter(pmod(graft.util.Hashing.portableHash64(
        concat(lit("cc:"), col("src").cast("string"), lit(":"),
          col("dst").cast("string"))), lit(3L)) === 0L)
      .select(col("src"), col("dst"))
    graft.ops.Graph.labelPropagation(nodes, sparse, rounds = 2)
      .select(col("id").as("doc_id"), col("community"))
  }

  /** HITS hubs/authorities on the shared hash link graph (2 rounds,
    * integer L∞ renormalization each half-step — the oracle replays
    * both rounds' mutual recursion bit-for-bit through the same
    * greatest(max, 1) guard).
    */
  def graphHitsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (nodes, edges) = pagerankGraph(spark, sfDir)
    graft.ops.Graph.hits(nodes, edges.select("src", "dst"), iters = 2)
      .select(col("id").as("doc_id"), col("hub_micro"), col("auth_micro"))
  }

  /** Link-structure near-dup pairs on the shared hash graph
    * (Graph.neighborJaccard, degCap 16, minShared 2): the exact
    * neighbor-set Jaccard contract on the hub-filtered graph, oracled
    * by the plain adjacency self-join.
    */
  def graphNeighborJaccardQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, edges) = pagerankGraph(spark, sfDir)
    graft.ops.Graph.neighborJaccard(edges.select("src", "dst"),
      degCap = 16, minShared = 2)
  }

  /** Per-node link reciprocity on the hash graph, with mutual links
    * planted by reversing every src % 10 = 0 edge (a uniform random
    * digraph reciprocates ~never — both engines build the identical
    * augmentation so every rate bucket has members).
    */
  def graphReciprocityQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, edges) = pagerankGraph(spark, sfDir)
    val e = edges.select("src", "dst")
    val planted = e.filter(col("src") % 10 === 0)
      .select(col("dst").as("src"), col("src").as("dst"))
    graft.ops.Graph.reciprocity(e.unionByName(planted))
      .withColumnRenamed("id", "doc_id")
  }

  /** JSONL.gz export round-trip under the gate — the fourth
    * ingest/export boundary (after WET, TFRecord, WebDataset), and
    * the one every public dataset release actually ships. The corpus
    * is made ESCAPE-HOSTILE on purpose: every doc gets a suffix
    * cycling through embedded quotes, backslashes, tab+newline,
    * non-ASCII (é✓ь), and raw control bytes — each of the five RFC
    * 8259 escape classes. Our hand-rolled writer serializes, Spark's
    * independent JSON parser reads back (FAILFAST), and the per-lang
    * XOR manifest must reproduce from the raw documents table in
    * DuckDB — any escaping, gzip framing, or line-splitting fault
    * splits a fingerprint.
    */
  def pipelineJsonlQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val hostile = element_at(array(
      lit(" \"quo\"ted\""),
      lit(" back\\slash\\"),
      lit(" tab\t nl\n end"),
      lit(" uni é✓ь"),
      concat(lit(" ctl"), expr("chr(1)"), expr("chr(31)"))),
      (pmod(col("doc_id"), lit(5L)) + 1L).cast("int"))
    val docs = Tables.documents(spark, sfDir)
      .filter(expr("doc_id % 2 = 0"))
      .select(col("doc_id"), col("lang"),
        concat(col("text"), hostile).as("text"))
    graft.sources.Jsonl.write(docs.repartition(4), dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    val back = graft.sources.Jsonl.read(spark, s"$dir/*.jsonl.gz", schema)
    val fp = graft.util.Hashing.portableHash64(concat(
      col("doc_id").cast("string"), lit(":"), md5(col("text"))))
    back.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(length(col("text")).cast("long")).as("n_chars"),
      min(col("doc_id")).as("min_id"),
      max(col("doc_id")).as("max_id"),
      bit_xor(fp).as("content_xor"))
  }

  /** OCR-artifact scoring over a corpus with deterministic scan-damage
    * injection (every 7th doc gets o→0/e→3 character confusions, the
    * classic OCR substitution class) — the detector must light up on
    * exactly those docs (C11al; TextAnalysis.ocrArtifacts, map-only).
    */
  def textOcrQ(spark: SparkSession, sfDir: String): DataFrame = {
    val corr = Tables.documents(spark, sfDir).select(col("doc_id"),
      when(col("doc_id") % 7 === 0, translate(col("text"), "oe", "03"))
        .otherwise(col("text")).as("text"))
    TextAnalysis.ocrArtifacts(corr, "text", "doc_id", flagPpm = 100000L)
  }

  /** The C4-gate corpus: single-line documents re-lined into 8-token
    * lines with deterministic decorations — terminal '.' on lines
    * where (doc_id+i) % 3 ≠ 0, a 'javascript.' suffix where
    * (doc_id+i) % 11 = 0, a lorem-ipsum line on doc_id % 13 = 0 and a
    * '{' line on doc_id % 17 = 0 — so every C4 rule has true
    * positives AND true negatives. The oracle derives the identical
    * corpus (same precedent as `dupCorpus`).
    */
  def c4Corpus(spark: SparkSession, sfDir: String): DataFrame =
    c4CorpusOf(Tables.documents(spark, sfDir))

  /** The same synthesis over an arbitrary (doc_id, text) frame — the
    * stress harness re-lines its decorrelated scaled corpus with it,
    * and the composition gate passes `keep` metadata columns through.
    */
  def c4CorpusOf(docs: DataFrame, keep: Seq[String] = Nil): DataFrame =
    docs
      .select(Seq(col("doc_id"),
        split(TextAnalysis.normalize(col("text")), " ").as("__toks")) ++
        keep.map(col): _*)
      .withColumn("__nch", expr("cast(ceil(size(__toks) / 8.0) as int)"))
      .withColumn("__lines", expr(
        """transform(sequence(0, __nch - 1), i ->
          |  concat(array_join(slice(__toks, i * 8 + 1, 8), ' '),
          |    CASE WHEN (doc_id + i) % 11 = 0 THEN ' javascript.'
          |         WHEN (doc_id + i) % 3 != 0 THEN '.'
          |         ELSE '' END))""".stripMargin))
      .select(Seq(col("doc_id"), concat(
        array_join(col("__lines"), "\n"),
        when(col("doc_id") % 13 === 0,
          lit("\nlorem ipsum dolor sit amet.")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit("\nfunction() {.")).otherwise(lit(""))).as("text")) ++
        keep.map(col): _*)

  /** C4 page cleaning (C11am; TextAnalysis.c4Filter) over the re-lined
    * corpus: per-page line-survival audit + page survival flag.
    */
  def textC4Q(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.c4Filter(c4Corpus(spark, sfDir), "text", "doc_id",
      minWordsPerLine = 5, minLines = 3)

  /** The C4 curation composition under ONE gate (C14g): re-lined
    * corpus → deterministic OCR damage on every 7th doc → c4Clean
    * page rewrite → ocr_filter drop of damaged docs → per-lang XOR
    * manifest of the CLEANED text. The oracle replays the whole
    * chain — synthesis, damage, line/page rules, rewrite, confusion
    * ppm, manifest — so a fault in ANY stage splits a fingerprint.
    * Same stages the config-driven runner exposes (`c4_filter`,
    * `ocr_filter`).
    */
  def pipelineC4Q(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = c4CorpusOf(Tables.documents(spark, sfDir),
      keep = Seq("lang"))
    val damaged = corpus.select(col("doc_id"), col("lang"),
      when(col("doc_id") % 7 === 0, translate(col("text"), "oe", "03"))
        .otherwise(col("text")).as("text"))
    val cleaned = TextAnalysis.c4Clean(damaged, "text", "doc_id",
      minWordsPerLine = 5, minLines = 3)
    val kept = TextAnalysis.ocrFilter(cleaned, "text", flagPpm = 100000L)
    val fp = graft.util.Hashing.portableHash64(concat(
      col("doc_id").cast("string"), lit(":"), md5(col("text"))))
    kept.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(length(col("text")).cast("long")).as("n_chars"),
      min(col("doc_id")).as("min_id"),
      max(col("doc_id")).as("max_id"),
      bit_xor(fp).as("content_xor"))
  }

  /** The SFT batch-assembly composition under ONE gate (C14h):
    * per-source conversations render through the chat template
    * (TextAnalysis.chatRenderText), rendered docs get whitespace
    * token counts, and Packing.packSequences assembles them into
    * 2048-token context windows — the manifest fingerprints every
    * (shard, pack) with a conv-fp XOR, so template bytes, token
    * arithmetic, shard hashing, and prefix-sum pack boundaries all
    * sit under one hash. The chain a fine-tuning data pipeline runs
    * between "conversations exist" and "batches ship".
    */
  def pipelineSftQ(spark: SparkSession, sfDir: String): DataFrame = {
    val convs = TextAnalysis.chatRenderText(
      Tables.documents(spark, sfDir).select("source", "doc_id", "text"),
      "source", "doc_id", "text", "<|user|>", "<|assistant|>", "<|end|>")
    val toks = convs.select(col("conv_id"),
      size(split(TextAnalysis.normalize(col("text")), " "))
        .cast("long").as("n_tokens"),
      md5(col("text")).as("fp"))
    val packed = graft.ops.Packing.packSequences(toks, "conv_id",
      "n_tokens", budget = 2048L, nShards = 4, carry = Seq("fp"))
    packed.groupBy("shard", "pack_id").agg(
      count(lit(1)).as("n_convs"),
      sum("n_tokens").as("pack_tokens"),
      bit_xor(graft.util.Hashing.portableHash64(
        concat(col("conv_id"), lit(":"), col("fp")))).as("content_xor"))
  }

  /** Chat-template rendering (C11an; TextAnalysis.chatRender):
    * per-source doc sequences render as alternating user/assistant
    * turns; the md5 fingerprint gates every template byte.
    */
  def textChatRenderQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.chatRender(
      Tables.documents(spark, sfDir).select("source", "doc_id", "text"),
      "source", "doc_id", "text",
      "<|user|>", "<|assistant|>", "<|end|>")

  /** Out-in degree assortativity over the hash-synthesized link graph
    * (C20j; graft.ops.Graph.assortativity): exact BIGINT sufficient
    * statistics + a one-row IEEE fold to r_micro. Same edge CTE as
    * the rest of the graph family.
    */
  def graphAssortativityQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, edges) = pagerankGraph(spark, sfDir)
    graft.ops.Graph.assortativity(edges)
  }

  /** Population Stability Index (C19o; graft.ops.Profile.psi):
    * per-user-event-type drift of the SECOND half of the stream vs
    * the first — the model-monitoring drift stat next to KL; add-one
    * smoothing keeps one-sided categories finite on both engines.
    * The split anchor is stream time (global max day, broadcast).
    */
  def profilePsiQ(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).filter(col("ts").isNotNull)
      .select(col("event_type"), expr("unix_millis(ts) DIV 86400000").as("day"))
    val mid = ev.agg(expr("(min(day) + max(day)) DIV 2").as("mid"))
    val tagged = ev.crossJoin(broadcast(mid))
    graft.ops.Profile.psi(
      tagged.filter(col("day") > col("mid")),
      tagged.filter(col("day") <= col("mid")), "event_type")
  }

  /** IVF posting-list balance report (C7t; graft.sim.IvfIndex.stats):
    * per-cell counts, shares, and load vs perfect balance over the
    * persisted index — empty cells included.
    */
  def annIvfStatsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val store = java.nio.file.Files.createTempDirectory("graft-ivft").toString
    graft.sim.IvfIndex.build(spark, e.filter(col("vec_id") % 2 === 0),
      "embedding", "vec_id", k = 8, iters = 0, dim = EMB_DIM.get,
      store, nStoreBuckets = 4)
    graft.sim.IvfIndex.append(spark, e.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", store, batchId = 1L, dim = EMB_DIM.get)
    graft.sim.IvfIndex.stats(spark, store)
  }

  /** Corpus novelty curve (C19n; graft.ops.Profile.noveltyCurve):
    * per stream-day rows, first-seen users, cumulative distinct —
    * the source-saturation diagnostic. The cumulative fold runs over
    * the day-cardinality table (whitelisted tiny relation).
    */
  def profileNoveltyQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.noveltyCurve(
      Tables.events(spark, sfDir).filter(col("ts").isNotNull),
      "user_id", expr("unix_millis(ts) DIV 86400000"))

  /** Metadata-leakage detector (C19m; graft.ops.Profile.mutualInfo):
    * MI(lang; source) over documents in count-weighted micro-nats +
    * normalized MI ppm — does one metadata column predict another.
    */
  def profileMutualInfoQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.mutualInfo(
      Tables.documents(spark, sfDir).select("lang", "source"),
      "lang", "source")

  /** Random-projection dim reduction (graft.sim.Similarity.project):
    * 64-d embeddings → 16 exact-integer JL components, exploded to
    * (vec_id, j, v) scalars for the hash gate.
    */
  def embProjectQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.project(Tables.embeddings(spark, sfDir), "embedding", "vec_id",
      k = 16, dim = EMB_DIM.get)
      .select(col("id").as("vec_id"),
        posexplode(col("proj")).as(Seq("j", "v")))
      .select(col("vec_id"), col("j").cast("long").as("j"), col("v"))

  /** BPE iteration-0 pair statistics (graft.ops.Bpe.pairCounts over
    * the word-frequency table): top-50 adjacent character pairs in
    * total order — the DuckDB-replayable slice of tokenizer training
    * (the merge loop itself is spec-pinned and gated rows-only as
    * bpe_merges).
    */
  def bpeTopPairsQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Bpe
    Bpe.pairCounts(
      Bpe.wordFreq(Tables.documents(spark, sfDir), "text")
        .select(col("freq"), Bpe.charSyms(col("word")).as("syms")))
      .orderBy(col("cnt").desc, col("a"), col("b")).limit(50)
  }

  /** Eight BPE merge rounds on the corpus (rows-only: the iterative
    * argmax-and-merge loop is deterministic — spec-pinned — but not
    * one SQL expression).
    */
  def bpeMergesQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Bpe.train(Tables.documents(spark, sfDir), "text", iters = 8)

  /** Greedy BPE ENCODE of the vocabulary under the SQL-derivable
    * two-level twin merge table (graft.ops.Bpe.encodeWords /
    * twinMerges): min-rank leftmost merge to fixpoint per word via the
    * native graft_bpe_encode expression. The word-frequency aggregate
    * feeds three consumers (level-0 ranks, level-1 ranks, the final
    * encode), so it truncates once — the PMI lesson.
    */
  /** WordPiece greedy longest-match segmentation of the corpus
    * vocabulary (ops.WordPiece / native graft_wordpiece_encode) —
    * the BERT-family tokenizer next to BPE and unigram. Vocabulary =
    * every corpus character in initial AND continuation form (full
    * coverage, so the gate exercises real segmentation, never the
    * [UNK] escape hatch — which the spec covers instead) + the top-32
    * words as whole pieces. The oracle rebuilds the vocabulary and
    * replays the greedy scan as a recursive CTE (the bpe_encode
    * pattern): longest matching piece at each position, continuation
    * pieces rendered ##x.
    */
  def wordpieceEncodeQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.{Bpe, WordPiece}
    val words = graft.util.Lineage.truncate(
      Bpe.wordFreq(Tables.documents(spark, sfDir), "text"))
    WordPiece.encodeWords(words, WordPiece.vocab(words, 32))
  }

  def bpeEncodeQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Bpe
    val words = graft.util.Lineage.truncate(
      Bpe.wordFreq(Tables.documents(spark, sfDir), "text"))
    Bpe.encodeWords(words, Bpe.twinMerges(words, 24, 24))
  }

  /** Per-document REAL token counts under the twin merge table
    * (graft.ops.Bpe.encodeDocs): the encode runs on the distinct-word
    * table and joins back broadcast, so the corpus explode is the only
    * corpus-sized frame.
    */
  def bpeEncodeDocsQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Bpe
    val docs = Tables.documents(spark, sfDir)
    val words = graft.util.Lineage.truncate(Bpe.wordFreq(docs, "text"))
    Bpe.encodeDocs(docs, "text", "doc_id", Bpe.twinMerges(words, 24, 24))
  }

  /** Tokenizer fertility comparison — the report a pipeline reads
    * before committing a tokenizer (and the budget bridge: every
    * token_budget/pack decision prices in SOME tokenizer): per
    * source, document/char/whitespace-token mass vs REAL trained-BPE
    * token mass, with chars-per-BPE-token (compression) and
    * BPE-per-whitespace-token (fertility) in exact milli units —
    * a source whose fertility spikes is the one the tokenizer was
    * not trained for (code in a prose tokenizer, the wrong script).
    * Same trained twin-merge table as bpe_encode_docs (shared oracle
    * CTEs); one encode scan + one partial-agg groupBy(source).
    */
  def tokenizerCompareQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Bpe
    val docs = Tables.documents(spark, sfDir)
    val words = graft.util.Lineage.truncate(Bpe.wordFreq(docs, "text"))
    val enc = Bpe.encodeDocs(docs, "text", "doc_id",
      Bpe.twinMerges(words, 24, 24))
    docs.select(col("doc_id"), col("source"),
        length(TextAnalysis.normalize(col("text"))).cast("long").as("chars"),
        size(split(TextAnalysis.normalize(col("text")), " ")).cast("long")
          .as("ws_tokens"))
      .join(enc.select(col("doc_id"), col("bpe_tokens")), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("chars"),
        sum(col("ws_tokens")).as("ws_tokens"),
        sum(coalesce(col("bpe_tokens"), lit(0L))).as("bpe_tokens"))
      .withColumn("chars_per_bpe_milli",
        expr("(chars * 1000L) div greatest(bpe_tokens, 1L)"))
      .withColumn("fertility_milli",
        expr("(bpe_tokens * 1000L) div greatest(ws_tokens, 1L)"))
  }

  /** END-TO-END EMBEDDING-SIDE release composition (the C14 pattern
    * on the vector axis): documents keep only rows with a VALID
    * 64-wide embedding (the integrity cut pipeline_integrity audits,
    * applied), then ONE bucketed LSH pair scan drives BOTH semantic
    * screens — near-dup removal (the larger id of any non-probe pair
    * at cosine ≥ T drops) and eval contamination (the held-out probe
    * slice doc_id % 100 never ships, and any doc pairing with a probe
    * at ≥ T drops with it) — and the survivors export through the
    * XOR-checksum shard manifest. The oracle replays integrity →
    * buckets → pairs → both drop sets → manifest in one chain, so a
    * single byte bent anywhere in the composition fails the hash.
    * Scale: the pair scan is the ann_lsh_pairs bucketed path (never
    * N²), drops are key-only anti-joins, the manifest one partial
    * agg.
    */
  def pipelineSemanticQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Sampling
    val d = Tables.documents(spark, sfDir)
    val valid = Tables.embeddings(spark, sfDir)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val docs = d.select("doc_id", "text").join(valid, Seq("doc_id"))
    val pairs = Similarity.annLshPairs(
      docs.select(col("doc_id"), col("embedding")), "embedding", "doc_id",
      COS_T, dim = EMB_DIM)
    val isProbe = (c: org.apache.spark.sql.Column) => c % 100 === 0
    val dropDup = pairs
      .filter(!isProbe(col("id_a")) && !isProbe(col("id_b")))
      .select(col("id_b").as("doc_id"))
    val dropContam = pairs.filter(isProbe(col("id_a")))
      .select(col("id_b").as("doc_id"))
      .unionByName(pairs.filter(isProbe(col("id_b")))
        .select(col("id_a").as("doc_id")))
    val survivors = docs.select("doc_id", "text")
      .filter(!isProbe(col("doc_id")))
      .join(dropDup.unionByName(dropContam).distinct(),
        Seq("doc_id"), "left_anti")
    Sampling.shardManifest(survivors, "text", "doc_id", numShards = 4)
  }

  /** BM25 top-5 retrieval (graft.ops.Retrieval): every 100th document
    * probes the corpus with its first 8 distinct tokens — the lexical
    * query-by-document search decontamination and duplicate triage
    * run. Integer micro-unit scores (rational k1/b form), probe side
    * broadcast, corpus never self-joins.
    */
  def textBm25Q(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Retrieval.bm25SelfProbe(Tables.documents(spark, sfDir),
      "text", "doc_id", col("doc_id") % 100 === 0)

  private val RRF_KEACH = 20 // per-list depth fed into the fusion

  /** Hybrid retrieval: BM25 lexical ranking over `documents` fused
    * with exact-cosine semantic ranking over the PARALLEL `embeddings`
    * table (vec_id ≡ doc_id for the shared id range) by reciprocal
    * rank — the deployed two-tower search shape. Probes are the ids
    * that exist in BOTH tables (vec_id % 100 = 0), so every query has
    * both lists. The lexical list drops the probe's self-hit and
    * re-ranks the survivors (the semantic side excludes self by
    * construction), so both lists rank 1..kEach over non-self docs.
    * The fusion arithmetic is integer-exact (see Retrieval.rrf); the
    * DuckDB oracle replays BOTH searches and the fusion.
    */
  def textRrfQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val probes = docs.join(
      broadcast(emb.filter(expr("vec_id % 100 = 0"))
        .select(col("vec_id").as("doc_id"))), Seq("doc_id"))
    // lexical: one extra rank of headroom so dropping the self-hit
    // still leaves kEach true non-self candidates, then re-rank
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    val lex = graft.ops.Retrieval.bm25(docs, "text", "doc_id",
        probes, "text", "doc_id", nQueryTerms = 8, topK = RRF_KEACH + 1)
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(wLex).cast("long"))
      .filter(col("rank") <= RRF_KEACH)
      .select("query_id", "doc_id", "rank")
    val sem = Similarity.bruteForceTopK(emb, "embedding", "vec_id",
        expr("id % 100 = 0"), k = RRF_KEACH, dim = EMB_DIM)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").cast("long").as("rank"))
    graft.ops.Retrieval.rrf(Seq(lex, sem), kConst = 60, topK = 10)
  }

  /** In-engine quality classifier (graft.ops.Classifier): hashed-BoW
    * logistic regression trained one full-batch GD round on the DSIR
    * content-defined target, then applied to the whole corpus. At
    * iters=1 every arithmetic step is integer-exact (σ ≡ ½ at w = 0),
    * so the oracle replays training AND scoring; deeper training is
    * spec-pinned.
    */
  def qualityLrScoreQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Classifier
    val d = Tables.documents(spark, sfDir)
    val target = expr("doc_id % 3 = 0") &&
      array_contains(split(TextAnalysis.normalize(col("text")), " "), "join")
    Classifier.trainScored(d, "text", "doc_id", target, m = 256, iters = 1)
  }

  /** Confusion matrix of the classifier's above-mean admission rule
    * against its own training labels — the in-engine eval a filter
    * deployment reads before trusting the cut (per-(label, pred)
    * counts; integer-exact: the cut compares score·N > Σscore in
    * longs, the pipeline_train_corpus rule). Self-evaluation on
    * training labels bounds optimism, it doesn't estimate held-out
    * accuracy — split the corpus by hash for that; the harness gates
    * the MEASUREMENT machinery.
    */
  def qualityLrEvalQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val target = expr("doc_id % 3 = 0") &&
      array_contains(split(TextAnalysis.normalize(col("text")), " "), "join")
    val scored = graft.ops.Classifier.trainScored(
      d, "text", "doc_id", target, m = 256, iters = 1)
    val tot = scored.agg(sum("score").as("stot"), count(lit(1)).as("ns"))
    scored
      .join(d.select(col("doc_id"), target.cast("int").as("y")), Seq("doc_id"))
      .crossJoin(broadcast(tot))
      .select(col("y"),
        (col("score") * col("ns") > col("stot")).cast("int").as("pred"))
      .groupBy("y", "pred").agg(count(lit(1)).as("n_docs"))
  }

  /** Split-CONFORMAL quality threshold (NEW r15) — the coverage-
    * guaranteed cut the above-mean rule (quality_lr_eval) cannot
    * promise: a hash-held-out fifth of the POSITIVE class calibrates,
    * the threshold is the k-th smallest calibration score with
    * k = floor(α(n+1)) (α = 20% at the gate), and exchangeability
    * alone guarantees a fresh positive scores ≥ threshold with
    * probability ≥ 1−α (Vovk's split conformal; ties make the bound
    * conservative). One audit row: calibration size and rank, the
    * integer threshold, and the held-out pass rates for positives
    * (measured coverage — must sit near 1−α) and negatives (the
    * filter's efficiency readout). Integer-exact: the threshold is an
    * actual stored score picked by rank (TakeOrdered — orderBy+limit,
    * no global window), rates in exact ppm. A calibration set too
    * small for k ≥ 1 degrades honestly to a pass-everything sentinel
    * threshold (Long.MinValue) rather than inventing a cut. The
    * calibration count is a driver-side scalar — calibration sets are
    * small by construction (labeled holdouts, not the corpus).
    */
  def qualityLrConformalQ(spark: SparkSession, sfDir: String): DataFrame =
    conformalAuditOf(Tables.documents(spark, sfDir))

  /** The conformal-threshold audit chain as a function of its corpus —
    * shared by the gated query and BenchStress (which feeds it the
    * 10× decorrelated corpus).
    */
  def conformalAuditOf(d: DataFrame): DataFrame = {
    import graft.ops.Classifier
    val target = expr("doc_id % 3 = 0") &&
      array_contains(split(TextAnalysis.normalize(col("text")), " "), "join")
    val scored = Classifier.trainScored(d, "text", "doc_id", target,
      m = 256, iters = 1)
    val labeled = graft.util.Lineage.truncate(scored
      .join(d.select(col("doc_id"), target.cast("int").as("y")), Seq("doc_id"))
      .withColumn("cal", pmod(graft.util.Hashing.portableHash64(
        concat(lit("conf:"), col("doc_id").cast("string"))), lit(5L)) === 0L))
    val calPos = labeled.filter(col("cal") && col("y") === 1)
    val nCal = calPos.count()
    val k = ((nCal + 1L) * 200000L) / 1000000L
    val thresh =
      if (k < 1L) Long.MinValue
      else calPos.orderBy(col("score").asc, col("doc_id").asc)
        .limit(k.toInt).agg(max(col("score"))).first().getLong(0)
    labeled.filter(!col("cal"))
      .agg(sum(col("y")).cast("long").as("n_eval_pos"),
        sum(when(col("y") === 1 && col("score") >= thresh, 1L)
          .otherwise(0L)).as("pos_pass"),
        sum(lit(1) - col("y")).cast("long").as("n_eval_neg"),
        sum(when(col("y") === 0 && col("score") >= thresh, 1L)
          .otherwise(0L)).as("neg_pass"))
      .select(lit(nCal).as("n_cal"), lit(k).as("k_rank"),
        lit(thresh).as("thresh_score"),
        col("n_eval_pos"), col("pos_pass"),
        when(col("n_eval_pos") > 0,
          expr("pos_pass * 1000000L div n_eval_pos")).as("pos_pass_ppm"),
        col("n_eval_neg"), col("neg_pass"),
        when(col("n_eval_neg") > 0,
          expr("neg_pass * 1000000L div n_eval_neg")).as("neg_pass_ppm"))
  }

  /** Conformal-filter DEPLOYMENT composition under ONE gate (C16e +
    * the coverage readout C37b watches, r15 verdict #5): a labeled
    * subset (every doc_id % 7 < 3) lands as a labels PARQUET, the
    * REAL Pipeline `conformal_filter` stage runs against it — train
    * on labeled-outside-the-fifth, threshold at the k-th smallest
    * calibration-positive score, keep corpus docs with
    * coalesce(score, 0) ≥ threshold (a planted NULL-text doc rides
    * along to pin that rule) — and the output row is the deployment
    * readout: kept count + content XOR plus the measured held-out
    * positive coverage in exact ppm, the number a production
    * EValueStream.rateBatch watches against 1−α (the file-feed e2e
    * spec drives that watcher; this gate hash-pins the arithmetic it
    * consumes). The oracle replays train → calibrate → filter →
    * coverage as one chain.
    */
  def pipelineConformalQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val target = expr("doc_id % 3 = 0") &&
      array_contains(split(TextAnalysis.normalize(col("text")), " "), "join")
    val labels = d.filter(expr("doc_id % 7 < 3"))
      .select(col("doc_id"), target.cast("int").as("y"))
    val labDir = java.nio.file.Files.createTempDirectory("graft-conf-lab").toString
    labels.write.mode("overwrite").parquet(labDir)
    // a NULL-text doc rides along: no feature rows, no score row —
    // the stage must let it face the threshold at score 0
    val corpus = d.unionByName(spark.range(1)
      .select(lit(990001L).as("doc_id"), lit(null).cast("string").as("text")))
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(s"""{"labels":"$labDir","alphaPpm":200000,"m":256}""")
    val kept = graft.Pipeline.applyStage(corpus, "conformal_filter", node,
      "text", "doc_id")
    val cal = pmod(graft.util.Hashing.portableHash64(
      concat(lit("conf:"), col("doc_id").cast("string"))), lit(5L)) === 0L
    val evalPos = labels.filter(col("y") === 1 && !cal)
    val cov = evalPos
      .join(kept.select(col("doc_id")).withColumn("__kept", lit(1L)),
        Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_eval_pos"),
        coalesce(sum("__kept"), lit(0L)).as("pos_pass"))
    val fp = graft.util.Hashing.portableHash64(concat(
      col("doc_id").cast("string"), lit(":"),
      md5(coalesce(col("text"), lit("")))))
    kept.agg(count(lit(1)).as("n_kept"), bit_xor(fp).as("kept_xor"),
        sum(when(col("doc_id") === 990001L, 1L).otherwise(0L))
          .as("null_doc_kept"))
      .crossJoin(broadcast(cov))
      .select(col("n_kept"), col("kept_xor"), col("null_doc_kept"),
        col("n_eval_pos"), col("pos_pass"),
        when(col("n_eval_pos") > 0,
          expr("pos_pass * 1000000L div n_eval_pos")).as("coverage_ppm"))
  }

  /** Polynomial-kernel MMD drift gate (Similarity.mmdPoly2, NEW r15):
    * the even/odd vec_id halves play the two samples — on one corpus
    * the halves are exchangeable, so the statistics double as the
    * null-calibration readout. Exact decimal sufficient statistics,
    * Gram-factored (no pair join).
    */
  def embMmdQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.mmdPoly2(Tables.embeddings(spark, sfDir), "embedding",
      pmod(col("vec_id"), lit(2L)), dim = 64)

  /** GloVe-style co-occurrence matrix (±2 window, minCount 5). */
  def textCooccurrenceQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.cooccurrence(Tables.documents(spark, sfDir), "text",
      window = 2, minCount = 5L)

  /** PMI association scores over the thresholded co-occurrence
    * matrix (marginals derived from the matrix itself).
    */
  def textPmiQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.pmi(textCooccurrenceQ(spark, sfDir))

  /** END-TO-END training-corpus assembly as ONE gated query — the
    * composition of THIS round's additions: quality-classifier filter
    * (iters=1, integer-exact) → span-level dedup of the kept docs →
    * deterministic shard addressing of the survivors. The oracle
    * replays the whole chain, so the gate checks the composition,
    * not just each stage (pipeline_clean_corpus's sibling for the
    * classifier/spans/shards third of the C-block).
    */
  def pipelineTrainQ(spark: SparkSession, sfDir: String): DataFrame =
    trainCorpusPipeline(Tables.documents(spark, sfDir))

  /** The train-corpus assembly chain as a function of its input —
    * shared by the gated query and BenchStress (which feeds it the
    * 10× decorrelated corpus).
    */
  def trainCorpusPipeline(d: DataFrame): DataFrame = {
    import graft.ops.{Classifier, Sampling}
    val target = expr("doc_id % 3 = 0") &&
      array_contains(split(TextAnalysis.normalize(col("text")), " "), "join")
    // keep the above-mean half: score·N > Σscore is integer-exact on
    // both engines (score > 0 keeps ~nothing — one GD round from w=0
    // leaves most raw logits negative on an unbalanced target).
    // trainScored featurizes ONCE; the truncation stops the scored
    // rows recomputing for both the totals row and the filter
    // (durable under spark.graft.checkpointDir like the GD loop)
    val scored = graft.util.Lineage.truncate(
      Classifier.trainScored(d, "text", "doc_id", target, m = 256, iters = 1))
    val tot = scored.agg(sum("score").as("ts"), count(lit(1)).as("nd"))
    val kept = scored.crossJoin(broadcast(tot))
      .filter(col("score") * col("nd") > col("ts")).select("doc_id")
    val deduped = Dedup.dedupSpans(
      d.join(kept, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), TextAnalysis.normalize(col("text")).as("nt")),
      "nt", "doc_id", k = 8)
      .select("doc_id", "n_tokens_kept")
    Sampling.shards(deduped, "doc_id", numShards = 8)
  }

  /** END-TO-END release hand-off as ONE gated query — the composition
    * of the round-9 export operators: readability gate (keep docs with
    * ≥ 10 words and non-negative reading ease — the audience cut) →
    * deterministic train/val/test assignment (hash threshold, stable
    * under corpus growth) → per-(split, shard) export manifests with
    * XOR content checksums. The oracle replays the whole chain, so the
    * gate checks the composition (pipeline_train_corpus's sibling for
    * the release/export third: what actually ships to a training run).
    */
  def pipelineReleaseQ(spark: SparkSession, sfDir: String): DataFrame =
    releaseCorpusPipeline(Tables.documents(spark, sfDir))

  /** The release chain as a function of its input — shared by the
    * gated query and BenchStress.
    */
  def releaseCorpusPipeline(d: DataFrame): DataFrame = {
    import graft.ops.Sampling
    val kept = TextAnalysis.readability(d, "text", "doc_id")
      .filter(col("n_words") >= 10L && col("fre_milli") >= 0L)
      .select("doc_id")
    val assigned = d.join(kept, Seq("doc_id"), "left_semi")
      .withColumn("split", Sampling.splitAssign(col("doc_id")))
    Sampling.shardManifest(assigned, "text", "doc_id", numShards = 4,
      extraKeys = Seq("split"))
  }

  /** END-TO-END mixed-corpus ROUTING composition gated (round 10,
    * closing the r9 verdict ask that the readability_filter /
    * code_filter stages run only under specs): the corpus with planted
    * code blocks (the text_code_detect convention, doc_id % 9) flows
    * through the REAL `Pipeline.applyStage` wiring — `code_filter`
    * mode=keep routes flagged docs to the code side (56 at sf0.01),
    * mode=drop feeds the prose side to `readability_filter`
    * (minWords=10, grade band [0, 14000] milli — 118/444 pass at
    * sf0.01, so BOTH cuts provably bite) — and the DuckDB oracle
    * replays feature extraction, flag, band, and routing end-to-end.
    * Output: 3 bounded report rows (route, doc count, char mass).
    *
    * The gate intentionally drives the STAGE API (per-row flag →
    * key-only left_semi, the streaming-safe shape) rather than a
    * hand-fused plan; a production run materializes the flags once
    * and routes by one case expression — same semantics, one scan.
    */
  def pipelineRouteQ(spark: SparkSession, sfDir: String): DataFrame = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val aug = Tables.documents(spark, sfDir).withColumn("text",
      when(col("doc_id") % 9 === 0, concat(col("text"), expr(
        "repeat(chr(10) || '    var x = f(a[i]); const y = {b: (c < d)};', 8)")))
        .otherwise(col("text")))
    val code = graft.Pipeline.applyStage(aug, "code_filter",
      m.readTree("""{"op":"code_filter","mode":"keep"}"""), "text", "doc_id")
    val prose = graft.Pipeline.applyStage(aug, "code_filter",
      m.readTree("""{"op":"code_filter","mode":"drop"}"""), "text", "doc_id")
    val kept = graft.Pipeline.applyStage(prose, "readability_filter",
      m.readTree("""{"op":"readability_filter","minWords":10,
        "minGradeMilli":0,"maxGradeMilli":14000}"""), "text", "doc_id")
    val routed = code.withColumn("route", lit("code"))
      .unionByName(kept.withColumn("route", lit("prose_kept")))
      .unionByName(prose.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("route", lit("prose_dropped")))
    routed.groupBy("route").agg(
      count(lit(1)).as("n_docs"),
      sum(length(col("text")).cast("long")).as("n_chars_total"))
  }

  /** Top-5 tf·idf terms per doc, integer-exact scores. */
  def textTfidfQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.tfidf(Tables.documents(spark, sfDir), "text", "doc_id", k = 5)

  /** Per-language quality-band trim on mean token length. */
  def textQualityBandQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.qualityBand(Tables.documents(spark, sfDir), "text", "doc_id", "lang")
      .withColumnRenamed("stratum", "lang")

  /** Calibration report for the integer-LR quality score — the
    * reliability diagram a filter deployment reads before picking a
    * cut: scores range-bucket into ≤9 integer bins (the benford /
    * embProfile width rule: w = (hi−lo) div 8 + 1), per bin the doc
    * count, positive count, exact positive ppm and score mass; a
    * well-ordered score has pos_ppm rising with the bin index — if it
    * doesn't, the cut threshold is meaningless no matter the accuracy.
    * Self-calibration on training labels (the quality_lr_eval caveat:
    * split by hash for held-out). One broadcast min/max row + one
    * partial-agg groupBy over the scored table.
    */
  def qualityLrCalibrationQ(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val target = expr("doc_id % 3 = 0") &&
      array_contains(split(TextAnalysis.normalize(col("text")), " "), "join")
    val scored = graft.ops.Classifier.trainScored(
      d, "text", "doc_id", target, m = 256, iters = 1)
      .join(d.select(col("doc_id"), target.cast("int").as("y")), Seq("doc_id"))
    val rng = scored.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
    scored.crossJoin(broadcast(rng))
      .withColumn("bin", expr("(score - lo) div ((hi - lo) div 8 + 1)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"),
        sum(col("score")).as("sum_score"))
      .withColumn("pos_ppm", expr("(n_pos * 1000000L) div n_docs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_quality_band" -> textQualityBandQ,
    "text_bigram_logprob" -> textBigramLogprobQ,
    "text_kn_logprob" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.knLogProb(Tables.documents(s, dir), "text", "doc_id")),
    "text_ppl_bucket" -> textPplBucketQ,
    "text_token_df_profile" -> textTokenDfProfileQ,
    "dedup_exact" -> dedupExactQ,
    "dedup_minhash_lsh" -> dedupMinhashQ,
    "dedup_simhash" -> dedupSimhashQ,
    "dedup_ngram_jaccard" -> dedupNgramQ,
    "dedup_embedding" -> dedupEmbeddingQ,
    "dedup_threshold_curve" -> dedupThresholdCurveQ,
    "dedup_clusters" -> dedupClustersQ,
    "dedup_graph" -> dedupGraphQ,
    "dedup_graph_store" -> dedupGraphStoreQ,
    "dedup_clusters_star" -> dedupClustersStarQ,
    "ann_topk" -> annTopkQ,
    "ann_dim_recall" -> annDimRecallQ,
    "ann_filtered" -> annFilteredQ,
    "ann_ivf" -> annIvfQ,
    "ann_hard_negatives" -> annHardNegativesQ,
    "ann_mrr" -> annMrrQ,
    "pipeline_export_triplets" -> pipelineTripletsQ,
    "ann_nndescent" -> annNnDescentQ,
    "ann_graph_search" -> annGraphSearchQ,
    "ann_graph_hier" -> annGraphHierQ,
    "ann_graph_persisted" -> annGraphPersistedQ,
    "ann_graph_delete" -> annGraphDeleteQ,
    "ann_graph_recall" -> annGraphRecallQ,
    "ann_recall" -> annRecallQ,
    "ann_recall_cascade" -> annRecallCascadeQ,
    "ann_lsh" -> annLshQ,
    "sample_diverse" -> sampleDiverseQ,
    "ann_lsh_pairs" -> annLshPairsQ,
    "ann_pq" -> annPqQ,
    "ann_cascade" -> annCascadeQ,
    "emb_kmeans" -> embKmeansQ,
    "emb_kmeans_init" -> embKmeansInitQ,
    "ann_ivf_assign" -> annIvfAssignQ,
    "ann_ivf_search" -> annIvfSearchQ,
    "ann_ivf_delete" -> annIvfDeleteQ,
    "dedup_semantic" -> dedupSemanticQ,
    "dedup_semantic_init" -> dedupSemanticInitQ,
    "text_tokens" -> textTokensQ,
    "text_length_profile" -> textLengthProfileQ,
    "text_quality" -> textQualityQ,
    "text_readability" -> textReadabilityQ,
    "text_code_detect" -> textCodeDetectQ,
    "text_langid" -> textLangidQ,
    "text_scrub" -> textScrubQ,
    "text_html_extract" -> textHtmlExtractQ,
    "text_markdown_extract" -> textMarkdownExtractQ,
    "text_boilerplate" -> textBoilerplateQ,
    "text_outlinks" -> textOutlinksQ,
    "profile_freq" -> profileFreqQ,
    "text_vocab" -> textVocabQ,
    "text_unigram_logprob" -> textUnigramLogprobQ,
    "text_repetition" -> textRepetitionQ,
    "text_contamination" -> textContaminationQ,
    "contamination_semantic" -> contaminationSemanticQ,
    "text_ngram_coverage" -> textNgramCoverageQ,
    "text_cdc_chunk" -> textCdcChunkQ,
    "dedup_cdc_chunks" -> dedupCdcChunksQ,
    "text_canary" -> textCanaryQ,
    "text_zipf_slope" -> textZipfSlopeQ,
    "text_wordlist" -> textWordlistQ,
    "dedup_keep_best" -> dedupKeepBestQ,
    "sample_stratified" -> sampleStratifiedQ,
    "sample_token_budget" -> sampleTokenBudgetQ,
    "sample_mixture" -> sampleMixtureQ,
    "sample_epochs" -> sampleEpochsQ,
    "sample_temperature" -> sampleTemperatureQ,
    "sample_importance" -> sampleImportanceQ,
    "dedup_lines" -> dedupLinesQ,
    "dedup_spans" -> dedupSpansQ,
    "text_kl_drift" -> textKlDriftQ,
    "sample_shard" -> sampleShardQ,
    "sample_curriculum" -> sampleCurriculumQ,
    "sample_split" -> sampleSplitQ,
    "text_pii" -> textPiiQ,
    "dedup_incremental_lsh" -> dedupIncrementalLshQ,
    "emb_gram" -> embGramQ,
    "emb_mmd" -> embMmdQ,
    "emb_pca" -> embPcaQ,
    "emb_outliers" -> embOutliersQ,
    "emb_drift" -> embDriftQ,
    "shard_manifest" -> shardManifestQ,
    "shard_rebalance" -> shardRebalanceQ,
    "profile_diff" -> profileDiffQ,
    "unigram_init" -> unigramInitQ,
    "unigram_train" -> unigramTrainQ,
    "profile_table" -> profileTableQ,
    "profile_histogram" -> profileHistogramQ,
    "profile_corr" -> profileCorrQ,
    "profile_embeddings" -> profileEmbeddingsQ,
    "emb_quantize" -> embQuantizeQ,
    "profile_sketch" -> profileSketchQ,
    "profile_quantiles_sketch" -> profileQuantilesQ,
    "profile_quantiles_kll" -> profileQuantilesKllQ,
    "profile_distinct_hll" -> profileDistinctHllQ,
    "emb_arrow_stage" -> embArrowStageQ,
    "pipeline_embed_corpus" -> pipelineEmbedQ,
    "dedup_overlap_sketch" -> dedupOverlapSketchQ,
    "sample_group_cap" -> sampleGroupCapQ,
    "sample_weighted" -> sampleWeightedQ,
    "dedup_url" -> dedupUrlQ,
    "text_gopher_filter" -> textGopherQ,
    "text_entropy" -> textEntropyQ,
    "text_winnow" -> textWinnowQ,
    "dedup_winnow" -> dedupWinnowQ,
    "dedup_winnow_containment" -> dedupWinnowContainQ,
    "pipeline_winnow_corpus" -> pipelineWinnowQ,
    "pipeline_monitor_corpus" -> pipelineMonitorQ,
    "graph_pagerank" -> graphPagerankQ,
    "graph_triangles" -> graphTrianglesQ,
    "graph_kcore" -> graphKcoreQ,
    "graph_kcore_fixpoint" -> graphKcoreFixpointQ,
    "graph_cc" -> graphCcQ,
    "graph_scc" -> graphSccQ,
    "graph_condensation" -> graphCondensationQ,
    "graph_blast_radius" -> graphBlastRadiusQ,
    "graph_topo_layers" -> graphTopoLayersQ,
    "graph_lpa" -> graphLpaQ,
    "graph_bfs" -> graphBfsQ,
    "graph_hits" -> graphHitsQ,
    "graph_neighbor_jaccard" -> graphNeighborJaccardQ,
    "graph_reciprocity" -> graphReciprocityQ,
    "graph_assortativity" -> graphAssortativityQ,
    "pipeline_export_jsonl" -> pipelineJsonlQ,
    "pipeline_c4_corpus" -> pipelineC4Q,
    "pipeline_sft_corpus" -> pipelineSftQ,
    "text_ocr_artifacts" -> textOcrQ,
    "text_c4_filter" -> textC4Q,
    "text_chat_render" -> textChatRenderQ,
    "profile_mutual_info" -> profileMutualInfoQ,
    "profile_novelty" -> profileNoveltyQ,
    "profile_psi" -> profilePsiQ,
    "dedup_lsh_tuning" -> dedupLshTuningQ,
    "dedup_rate_by_source" -> dedupRateBySourceQ,
    "ann_ivf_stats" -> annIvfStatsQ,
    "profile_fd" -> profileFdQ,
    "profile_entropy" -> profileEntropyQ,
    "profile_histogram_eq" -> profileHistogramEqQ,
    "profile_benford" -> profileBenfordQ,
    "emb_project" -> embProjectQ,
    "bpe_top_pairs" -> bpeTopPairsQ,
    "bpe_merges" -> bpeMergesQ,
    "bpe_encode" -> bpeEncodeQ,
    "wordpiece_encode" -> wordpieceEncodeQ,
    "bpe_encode_docs" -> bpeEncodeDocsQ,
    "tokenizer_compare" -> tokenizerCompareQ,
    "text_bm25" -> textBm25Q,
    "text_rrf" -> textRrfQ,
    "text_cooccurrence" -> textCooccurrenceQ,
    "text_tfidf" -> textTfidfQ,
    "quality_lr_score" -> qualityLrScoreQ,
    "quality_lr_eval" -> qualityLrEvalQ,
    "quality_lr_calibration" -> qualityLrCalibrationQ,
    "quality_lr_conformal" -> qualityLrConformalQ,
    "pipeline_conformal_corpus" -> pipelineConformalQ,
    "text_pmi" -> textPmiQ,
    "pipeline_train_corpus" -> pipelineTrainQ,
    "text_pack" -> textPackQ,
    "pack_efficiency" -> packEfficiencyQ,
    "text_chunk" -> textChunkQ,
    "dedup_incremental" -> dedupIncrementalQ,
    "dedup_bloom_prefilter" -> dedupBloomQ,
    "dedup_source_overlap" -> dedupSourceOverlapQ,
    "text_df_prune" -> textDfPruneQ,
    "pipeline_clean_corpus" -> pipelineCleanQ,
    "pipeline_wet_corpus" -> pipelineWetQ,
    "pipeline_export_tfrecord" -> pipelineTfrecordQ,
    "pipeline_export_embeddings" -> pipelineTfrecordEmbQ,
    "pipeline_export_safetensors" -> pipelineSafetensorsQ,
    "pipeline_export_safetensors_half" -> pipelineSafetensorsHalfQ,
    "pipeline_export_webdataset" -> pipelineWebdatasetQ,
    "pipeline_export_wds_img" -> pipelineWdsImgQ,
    "pipeline_release_corpus" -> pipelineReleaseQ,
    "pipeline_semantic_corpus" -> pipelineSemanticQ,
    "pipeline_route_corpus" -> pipelineRouteQ,
    "pipeline_integrity" -> pipelineIntegrityQ,
    "text_fingerprint" -> textFingerprintQ)

  // ---- oracles ----------------------------------------------------

  private lazy val incrementalOracle: String =
    s"""WITH batch AS (
       |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
       |  UNION ALL
       |  SELECT doc_id + 500000 AS doc_id, text || ' graft novel tail' AS text
       |  FROM documents WHERE doc_id % 41 = 0
       |  UNION ALL
       |  SELECT doc_id + 600000 AS doc_id, text || ' graft novel tail' AS text
       |  FROM documents WHERE doc_id % 41 = 0),
       |bk AS (SELECT md5($norm) AS content_hash, min(doc_id) AS admitted_id,
       |         count(*) AS n_batch_copies
       |       FROM batch GROUP BY 1)
       |SELECT content_hash, admitted_id, n_batch_copies FROM bk
       |WHERE content_hash NOT IN (SELECT md5($norm) FROM documents)""".stripMargin

  private val norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
  private val h64 = (x: String) => s"('0x' || substr(md5($x), 1, 15))::BIGINT"

  /** Integer-dot cosine over two prepped (qv, n2) vector pairs — the
    * ann-family scoring expression, shared by the graph-search chain.
    */
  private def gsCos(aQv: String, aN2: String, bQv: String, bN2: String): String =
    s"CAST(list_sum(list_transform(list_zip($aQv, $bQv), z -> z[1] * z[2])) AS DOUBLE)" +
      s" / (sqrt(CAST($aN2 AS DOUBLE)) * sqrt(CAST($bN2 AS DOUBLE)))"

  /** One-round nnDescent construction chain over CTE `src` (vec_id,
    * qv, n2), emitting `<pfx>g(vec_id, neighbor_id)` — the
    * ann_nndescent replay, parameterized so the hierarchical search
    * can build two graphs (upper subset + base) in one WITH clause.
    */
  private def nndChain(pfx: String, src: String, k: Int,
                       buckets: Int): String =
    s"""${pfx}h AS (SELECT vec_id AS id,
       |        ${h64("vec_id::VARCHAR")} AS hid FROM $src),
       |${pfx}i AS (SELECT id, hid, hid % $buckets AS bkt FROM ${pfx}h),
       |${pfx}seed AS (SELECT a.id, b.id AS nid,
       |    row_number() OVER (PARTITION BY a.id ORDER BY b.hid, b.id) AS rn
       |  FROM ${pfx}i a JOIN ${pfx}i b ON a.bkt = b.bkt AND a.id <> b.id),
       |${pfx}cur AS (SELECT id, nid FROM ${pfx}seed WHERE rn <= $k),
       |${pfx}rev AS (SELECT nid AS id, id AS nid FROM ${pfx}cur),
       |${pfx}two AS (SELECT x.id, y.nid FROM ${pfx}cur x
       |        JOIN ${pfx}cur y ON x.nid = y.id
       |        WHERE x.id <> y.nid),
       |${pfx}cand AS (SELECT DISTINCT id, nid FROM
       |  (SELECT * FROM ${pfx}cur UNION ALL SELECT * FROM ${pfx}rev
       |   UNION ALL SELECT * FROM ${pfx}two)),
       |${pfx}sc AS (SELECT c.id, c.nid,
       |    ${gsCos("a.qv", "a.n2", "b.qv", "b.n2")} AS cos
       |  FROM ${pfx}cand c JOIN $src a ON a.vec_id = c.id
       |    JOIN $src b ON b.vec_id = c.nid),
       |${pfx}g AS (SELECT id AS vec_id, nid AS neighbor_id FROM (
       |    SELECT id, nid, row_number() OVER (PARTITION BY id
       |      ORDER BY cos DESC, nid ASC) AS rank FROM ${pfx}sc)
       |  WHERE rank <= $k)""".stripMargin

  /** Fixed-round beam-search chain: visited v0 from `v0Sql`, `rounds`
    * expansions over `graphCte` with candidate vectors from `src` and
    * probe vectors from the `prCte` CTE (default `pr`), EXCEPT as the
    * visited anti-join. Emits `<pfx>v<rounds>` (qid, id, cos). */
  private def searchChain(pfx: String, src: String, graphCte: String,
                          v0Sql: String, beam: Int, rounds: Int,
                          prCte: String = "pr",
                          recursiveSafe: Boolean = false): String = {
    val blocks = (1 to rounds).map { r =>
      val prev = s"${pfx}v${r - 1}"
      // the visited anti-join: EXCEPT normally, NOT EXISTS when the
      // chain rides inside a WITH RECURSIVE (DuckDB allows only
      // UNION/UNION ALL setops there) — identical semantics, the
      // DISTINCT already covers EXCEPT's dedup half
      val anti =
        if (recursiveSafe)
          s"""      AND NOT EXISTS (SELECT 1 FROM $prev p
             |        WHERE p.qid = b.qid AND p.id = g.neighbor_id)),"""
            .stripMargin
        else s"""  EXCEPT SELECT qid, id FROM $prev),"""
      s"""${pfx}b$r AS (SELECT qid, id FROM (SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rn
         |  FROM $prev) WHERE rn <= $beam),
         |${pfx}f$r AS (SELECT DISTINCT b.qid, g.neighbor_id AS id
         |    FROM ${pfx}b$r b JOIN $graphCte g ON g.vec_id = b.id
         |    WHERE g.neighbor_id <> b.qid
         |$anti
         |${pfx}s$r AS (SELECT f.qid, f.id,
         |    ${gsCos(s"$prCte.pqv", s"$prCte.pn2", "a.qv", "a.n2")} AS cos
         |  FROM ${pfx}f$r f JOIN $src a ON a.vec_id = f.id
         |    JOIN $prCte ON $prCte.qid = f.qid),
         |${pfx}v$r AS (SELECT * FROM $prev UNION ALL SELECT * FROM ${pfx}s$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""${pfx}v0 AS ($v0Sql),
       |$blocks""".stripMargin
  }

  /** Shared CTE chain for the graph-ANN search oracles: rebuilds the
    * ann_nndescent graph (identical params — one construction, two
    * replays cannot drift), then the fixed-round beam search — 4
    * hash-seeded entry points, beam 3 per round by (cos DESC, id),
    * 2 expansion rounds as chained CTEs (the nnDescent fixed-round
    * convention), EXCEPT as the visited anti-join. Ends at `v2`,
    * the full visited set (qid, id, cos).
    */
  private lazy val gsSearchCtes: String =
    s"""$qPrep,
       |${nndChain("", "n", 5, 50)},
       |ent AS (SELECT vec_id AS id FROM n
       |  ORDER BY ${h64("'gs:' || vec_id::VARCHAR")}, vec_id LIMIT 4),
       |pr AS (SELECT vec_id AS qid, qv AS pqv, n2 AS pn2 FROM n
       |  WHERE vec_id % 100 = 0),
       |${searchChain("", "n", "g",
            s"""SELECT pr.qid, a.vec_id AS id,
               |    ${gsCos("pr.pqv", "pr.pn2", "a.qv", "a.n2")} AS cos
               |  FROM pr CROSS JOIN ent e JOIN n a ON a.vec_id = e.id
               |  WHERE e.id <> pr.qid""".stripMargin, 3, 2)}""".stripMargin

  /** Hierarchical (HNSW two-layer) search oracle chain: upper subset
    * + its own small graph, upper search from global entries, handoff
    * of each probe's best upper results as base entries, base search.
    * Ends at `bv2`. */
  private lazy val hierSearchCtes: String =
    s"""$qPrep,
       |un AS (SELECT vec_id, qv, n2 FROM n
       |  WHERE ${h64("'hl:' || vec_id::VARCHAR")} % 8 = 0),
       |${nndChain("u", "un", 3, 10)},
       |${nndChain("", "n", 5, 50)},
       |uent AS (SELECT vec_id AS id FROM un
       |  ORDER BY ${h64("'gs:' || vec_id::VARCHAR")}, vec_id LIMIT 2),
       |pr AS (SELECT vec_id AS qid, qv AS pqv, n2 AS pn2 FROM n
       |  WHERE vec_id % 100 = 0),
       |${searchChain("u", "un", "ug",
            s"""SELECT pr.qid, a.vec_id AS id,
               |    ${gsCos("pr.pqv", "pr.pn2", "a.qv", "a.n2")} AS cos
               |  FROM pr CROSS JOIN uent e JOIN un a ON a.vec_id = e.id
               |  WHERE e.id <> pr.qid""".stripMargin, 2, 1)},
       |ho AS (SELECT qid, id FROM (SELECT qid, id,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rn
       |  FROM uv1) WHERE rn <= 2),
       |${searchChain("b", "n", "g",
            s"""SELECT ho.qid, a.vec_id AS id,
               |    ${gsCos("pr.pqv", "pr.pn2", "a.qv", "a.n2")} AS cos
               |  FROM ho JOIN n a ON a.vec_id = ho.id
               |    JOIN pr ON pr.qid = ho.qid""".stripMargin, 3, 2)}"""
      .stripMargin

  /** Persisted graph-ANN lifecycle oracle chain (ann_graph_persisted):
    * even-half nnDescent seed graph, the odd half's insert search
    * over it (entries from the EVEN nodes — the pre-batch store),
    * top-5 connection into forward+reverse edges, then the final
    * beam search over the merged graph with entries from ALL nodes.
    * Ends at `pv2`, the final search's visited set (qid, id, cos).
    */
  private def gannChain(live: String, extraCte: String = ""): String =
    s"""$qPrep,
       |ne AS (SELECT vec_id, qv, n2 FROM n WHERE vec_id % 2 = 0),
       |${nndChain("e", "ne", 5, 50)},$extraCte
       |ient AS (SELECT vec_id AS id FROM ne
       |  ORDER BY ${h64("'gs:' || vec_id::VARCHAR")}, vec_id LIMIT 4),
       |pr2 AS (SELECT vec_id AS qid, qv AS pqv, n2 AS pn2 FROM n
       |  WHERE vec_id % 2 = 1),
       |${searchChain("a", "ne", "eg",
            s"""SELECT pr2.qid, a.vec_id AS id,
               |    ${gsCos("pr2.pqv", "pr2.pn2", "a.qv", "a.n2")} AS cos
               |  FROM pr2 CROSS JOIN ient e JOIN ne a ON a.vec_id = e.id
               |  WHERE e.id <> pr2.qid""".stripMargin, 3, 2, "pr2")},
       |fwd AS (SELECT qid AS id, id AS nid FROM (SELECT qid, id,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rn
       |  FROM av2) WHERE rn <= 5),
       |mg AS (SELECT vec_id, neighbor_id FROM eg
       |  UNION ALL SELECT id AS vec_id, nid AS neighbor_id FROM fwd
       |  UNION ALL SELECT nid AS vec_id, id AS neighbor_id FROM fwd),
       |gent AS (SELECT vec_id AS id FROM $live
       |  ORDER BY ${h64("'gs:' || vec_id::VARCHAR")}, vec_id LIMIT 4),
       |pr AS (SELECT vec_id AS qid, qv AS pqv, n2 AS pn2 FROM n
       |  WHERE vec_id % 100 = 0),
       |${searchChain("p", live, "mg",
            s"""SELECT pr.qid, a.vec_id AS id,
               |    ${gsCos("pr.pqv", "pr.pn2", "a.qv", "a.n2")} AS cos
               |  FROM pr CROSS JOIN gent e JOIN $live a ON a.vec_id = e.id
               |  WHERE e.id <> pr.qid""".stripMargin, 3, 2)}""".stripMargin

  private lazy val gannSearchCtes: String = gannChain("n")

  /** Store-backed dedup-sweep oracle chain (dedup_graph_store): seed
    * nnDescent over the BASE corpus, the planted +100k copies' insert
    * search over it (entries from the base — the pre-batch store),
    * top-5 connection into forward+reverse edges, then the sweep —
    * mutual merged-graph pairs, both ends OUTSIDE the tombstone set
    * (planted ids ≡ 50 mod 100), exact cosine ≥ threshold, min-label
    * reachability CC.
    */
  private lazy val gannDedupCtes: String =
    s"""corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000, embedding FROM embeddings
       |  WHERE vec_id % 50 = 0),
       |q AS (SELECT vec_id, list_transform(embedding,
       |        x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |      FROM corpus),
       |n AS (SELECT vec_id, qv,
       |        list_sum(list_transform(qv, x -> x * x)) AS n2 FROM q),
       |nb AS (SELECT vec_id, qv, n2 FROM n WHERE vec_id < 100000),
       |${nndChain("e", "nb", 5, 50)},
       |ient AS (SELECT vec_id AS id FROM nb
       |  ORDER BY ${h64("'gs:' || vec_id::VARCHAR")}, vec_id LIMIT 8),
       |pr2 AS (SELECT vec_id AS qid, qv AS pqv, n2 AS pn2 FROM n
       |  WHERE vec_id >= 100000),
       |${searchChain("a", "nb", "eg",
            s"""SELECT pr2.qid, a.vec_id AS id,
               |    ${gsCos("pr2.pqv", "pr2.pn2", "a.qv", "a.n2")} AS cos
               |  FROM pr2 CROSS JOIN ient e JOIN nb a ON a.vec_id = e.id
               |  WHERE e.id <> pr2.qid""".stripMargin, 8, 3, "pr2",
            recursiveSafe = true)},
       |fwd AS (SELECT qid AS id, id AS nid FROM (SELECT qid, id,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rn
       |  FROM av2) WHERE rn <= 5),
       |mg AS (SELECT vec_id AS id, neighbor_id AS nid FROM eg
       |  UNION ALL SELECT id, nid FROM fwd
       |  UNION ALL SELECT nid AS id, id AS nid FROM fwd),
       |nl AS (SELECT vec_id, qv, n2 FROM n
       |  WHERE NOT (vec_id >= 100000 AND vec_id % 100 = 50)),
       |mu AS (SELECT DISTINCT id AS id_a, nid AS id_b
       |       FROM (SELECT id, nid FROM mg WHERE id < nid)
       |       SEMI JOIN (SELECT nid AS id, id AS nid FROM mg WHERE id > nid)
       |       USING (id, nid)),
       |pc AS (SELECT mu.id_a, mu.id_b
       |       FROM mu JOIN nl x ON x.vec_id = mu.id_a
       |         JOIN nl y ON y.vec_id = mu.id_b
       |       WHERE round(${gsCos("x.qv", "x.n2", "y.qv", "y.n2")}, 6)
       |         >= $COS_T),
       |ed AS (SELECT id_a AS s, id_b AS d FROM pc
       |       UNION ALL SELECT id_b AS s, id_a AS d FROM pc),
       |vx AS (SELECT DISTINCT s AS id FROM ed),
       |reach AS (SELECT id, id AS r FROM vx
       |          UNION
       |          SELECT reach.id, e.d AS r FROM reach JOIN ed e ON e.s = reach.r)"""
      .stripMargin

  /** The delete variant: the same persisted chain with every id ≡ 3
    * (mod 10) tombstoned before the final search — the LIVE node
    * set `nl` replaces `n` exactly where [[graft.sim.GraphAnnIndex]]
    * anti-joins tombstones (entry set, beam scoring, results), while
    * probes and the merged edge table stay FULL (deleted ids may
    * still query; dead edges stay until vacuum). */
  private lazy val gannDeleteCtes: String = gannChain("nl",
    extraCte = "\nnl AS (SELECT vec_id, qv, n2 FROM n WHERE vec_id % 10 <> 3),")

  /** The BM25 corpus/probe/scoring CTE chain (ends at `agg`:
    * (query_id, doc_id, score_micro)), parameterized only by the probe
    * predicate — shared verbatim between the `text_bm25` gate and the
    * `text_rrf` fusion oracle so the two scoring replays cannot drift.
    */
  private def bm25Ctes(probeWhere: String): String =
    s"""tk AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS term
       |            FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM tk WHERE len(term) > 0 GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS t
       |       FROM dl),
       |qt AS (SELECT doc_id AS query_id,
       |         unnest(list_distinct(list_filter(string_split($norm, ' '),
       |           w -> len(w) > 0)[1:8])) AS term
       |       FROM documents WHERE $probeWhere),
       |qi AS (SELECT q.query_id, q.term, nt.n, nt.t,
       |         CAST(round(ln((nt.n - d.df + 0.5) / (d.df + 0.5) + 1) * 1e6)
       |           AS BIGINT) AS qidf
       |       FROM qt q JOIN dft d USING (term), nt),
       |s AS (SELECT qi.query_id, tf.doc_id,
       |        CAST(round(CAST(qi.qidf * 22 * tf.tf AS DOUBLE) * qi.t /
       |          CAST(10 * qi.t * tf.tf + 3 * qi.t + 9 * dl.dl * qi.n
       |            AS DOUBLE)) AS BIGINT) AS st
       |      FROM qi JOIN tf USING (term) JOIN dl ON tf.doc_id = dl.doc_id),
       |agg AS (SELECT query_id, doc_id, CAST(sum(st) AS BIGINT) AS score_micro
       |        FROM s GROUP BY 1, 2)""".stripMargin

  /** profile_corr oracle: the same exact-integer moment chain as
    * Profile.corrMatrix, generated for the gated column list (HUGEINT
    * plays decimal(38,0); products fit BIGINT at cents scale).
    */

  /** One side of the profile_diff oracle: per-column legs of the wide
    * exact-moment aggregate over relation `rel` (the Spark op's
    * explode, spelled as a UNION of |cols| scalar branches).
    */
  private def diffSide(rel: String): String = {
    val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    cs.map { c =>
      s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n,
         |    ((count(*) - count($c)) * 1000000) // count(*) AS null_ppm,
         |    CASE WHEN count($c) > 0
         |      THEN CAST(sum(CAST(round($c * 100) AS HUGEINT)) * 10 AS BIGINT)
         |           // count($c)
         |      ELSE 0 END AS mean_milli
         |  FROM $rel""".stripMargin
    }.mkString("\n  UNION ALL ")
  }

  private def corrOracle(cs: Seq[String]): String = {
    val idx = cs.indices
    val qcols = idx.map(i => s"CAST(round(${cs(i)} * 100) AS BIGINT) AS c$i")
      .mkString(", ")
    val nn = cs.map(c => s"$c IS NOT NULL").mkString(" AND ")
    val sums = idx.map(i =>
      s"sum(CAST(c$i AS HUGEINT)) AS s$i, sum(CAST(c$i * c$i AS HUGEINT)) AS ss$i")
      .mkString(",\n        ")
    val pairs = for { i <- idx; j <- idx if i < j } yield (i, j)
    val sps = pairs.map { case (i, j) =>
      s"sum(CAST(c$i * c$j AS HUGEINT)) AS sp${i}_$j" }.mkString(",\n        ")
    val branches = pairs.map { case (i, j) =>
      s"""SELECT '${cs(i)}' AS col_x, '${cs(j)}' AS col_y,
         |    CAST(m.n AS BIGINT) AS n,
         |    sp${i}_$j * m.n - s$i * s$j AS num,
         |    ss$i * m.n - s$i * s$i AS d1, ss$j * m.n - s$j * s$j AS d2
         |  FROM m""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH q AS (SELECT $qcols FROM lineitem WHERE $nn),
       |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
       |        $sums,
       |        $sps FROM q),
       |p AS (
       |  $branches)
       |SELECT col_x, col_y, n,
       |  CASE WHEN d1 > 0 AND d2 > 0
       |       THEN round(CAST(num AS DOUBLE) /
       |         (sqrt(CAST(d1 AS DOUBLE)) * sqrt(CAST(d2 AS DOUBLE))), 6)
       |  END AS corr
       |FROM p""".stripMargin
  }

  /** Content-defined chunk derivation CTEs (ends at `cch`: doc_id,
    * chunk_idx, start_pos, chunk_len, chunk_md5), parameterized by the
    * corpus CTE name — shared between the text_cdc_chunk gate and the
    * dedup_cdc_chunks oracle so the boundary rule cannot drift.
    */
  private def cdcChunkCtes(src: String): String =
    s"""cd AS (SELECT doc_id, $norm AS nt FROM $src),
       |cg AS (SELECT doc_id, nt,
       |        CASE WHEN len(nt) >= 8 THEN
       |          list_transform(
       |            list_filter(generate_series(0, len(nt) - 8),
       |              i -> ${h64("substr(nt, CAST(i + 1 AS INT), 8)")} % 16 = 0),
       |            i -> i + 8)
       |        ELSE CAST([] AS BIGINT[]) END AS cuts
       |       FROM cd WHERE len(nt) > 0),
       |cb AS (SELECT doc_id, nt,
       |        list_sort(list_distinct([0::BIGINT] || cuts || [len(nt)::BIGINT]))
       |          AS bounds
       |       FROM cg),
       |cx AS (SELECT doc_id, nt, unnest(
       |        CASE WHEN len(bounds) >= 2 THEN
       |          list_transform(generate_series(1, len(bounds) - 1),
       |            j -> struct_pack(idx := j,
       |                   s := bounds[CAST(j AS INT)],
       |                   e := bounds[CAST(j + 1 AS INT)]))
       |        ELSE [] END) AS ch
       |       FROM cb),
       |cch AS (SELECT doc_id, CAST(ch.idx AS BIGINT) AS chunk_idx,
       |         CAST(ch.s AS BIGINT) AS start_pos,
       |         CAST(ch.e - ch.s AS BIGINT) AS chunk_len,
       |         md5(substr(nt, CAST(ch.s + 1 AS INT), CAST(ch.e - ch.s AS INT)))
       |           AS chunk_md5
       |        FROM cx)""".stripMargin

  /** The embedding-export manifest oracle shared by every vector
    * container gate (the [[embExportManifest]] twin): recomputed from
    * the SOURCE table, so a write/read byte divergence in any
    * container hash-fails against it.
    */
  private lazy val embExportOracleSql: String =
    s"""WITH v AS (SELECT vec_id,
       |        list_transform(embedding,
       |          x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))
       |          AS qv,
       |        CAST(len(embedding) AS BIGINT) AS dim
       |      FROM embeddings WHERE vec_id % 2 = 0),
       |f AS (SELECT vec_id % 8 AS bucket, dim,
       |        CAST(coalesce(list_sum(qv), 0) AS BIGINT) AS qsum,
       |        ${h64("vec_id::VARCHAR || ':' || md5(array_to_string(qv, ','))")}
       |          AS fp
       |      FROM v)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(dim) AS BIGINT) AS dim_mass,
       |  CAST(sum(qsum) AS BIGINT) AS qsum_mass,
       |  bit_xor(fp) AS content_xor
       |FROM f GROUP BY 1""".stripMargin

  private val qPrep =
    """q AS (SELECT vec_id, list_transform(embedding,
      |         x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv FROM embeddings),
      |     n AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM q)""".stripMargin

  /** One recursive greedy-encode step template for the bpe_encode
    * oracles: the best position is the leftmost occurrence of the
    * lowest-ranked adjacent pair (rank = 1-based position in the key
    * list, so min (rank, pos) struct sort IS the tie order), and each
    * recursion row applies exactly one merge — the same
    * min-rank/leftmost/fixpoint loop as graft_bpe_encode.
    */
  private def bpeEncRec(encName: String, src: String, keys: String): String =
    s"""$encName AS (
       |  SELECT word, freq, syms, 0 AS step FROM $src
       |  UNION ALL
       |  SELECT word, freq,
       |    syms[1:bp-1] || [syms[bp] || syms[bp+1]] || syms[bp+2:], step + 1
       |  FROM (
       |    SELECT e.word, e.freq, e.syms, e.step,
       |      (list_sort(list_filter(
       |         list_transform(generate_series(1, len(e.syms)-1),
       |           i -> struct_pack(r := list_position(k.ks,
       |                  struct_pack(a := e.syms[i], b := e.syms[i+1])), p := i)),
       |         s -> s.r IS NOT NULL AND s.r > 0)))[1].p AS bp
       |    FROM $encName e, $keys k
       |  ) WHERE bp IS NOT NULL
       |)""".stripMargin

  /** Shared CTE chain deriving the two-level twin merge table
    * (top-24 char pairs, then top-24 pairs of the 24-encoded vocab —
    * graft.ops.Bpe.twinMerges) and replaying the final encode.
    */
  private val bpeEncCte: String =
    s"""wf AS (SELECT word, count(*) AS freq FROM
       |         (SELECT unnest(string_split($norm, ' ')) AS word FROM documents)
       |       WHERE len(word) > 0 GROUP BY 1),
       |cs AS (SELECT word, freq, string_split(word, '') AS syms FROM wf),
       |pc0 AS (SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i+1 AS INT)] AS b,
       |          CAST(sum(freq) AS BIGINT) AS cnt
       |        FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM cs
       |              WHERE len(syms) >= 2) GROUP BY 1, 2),
       |k0 AS (SELECT list(struct_pack(a := a, b := b)) AS ks
       |       FROM (SELECT * FROM pc0 ORDER BY cnt DESC, a, b LIMIT 24)),
       |${bpeEncRec("enc0", "cs", "k0")},
       |f0 AS (SELECT word, freq, syms FROM enc0 e1
       |       WHERE step = (SELECT max(step) FROM enc0 e2 WHERE e2.word = e1.word)),
       |pc1 AS (SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i+1 AS INT)] AS b,
       |          CAST(sum(freq) AS BIGINT) AS cnt
       |        FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM f0
       |              WHERE len(syms) >= 2) GROUP BY 1, 2),
       |kf AS (SELECT (SELECT ks FROM k0) ||
       |              (SELECT list(struct_pack(a := a, b := b)) FROM
       |                (SELECT * FROM pc1 ORDER BY cnt DESC, a, b LIMIT 24)) AS ks),
       |${bpeEncRec("enc1", "cs", "kf")},
       |f1 AS (SELECT word, freq, syms FROM enc1 e1
       |       WHERE step = (SELECT max(step) FROM enc1 e2 WHERE e2.word = e1.word))""".stripMargin

  /** The PQ-shortlist → exact-rerank cascade as a reusable CTE chain
    * ending in `casc(query_id, neighbor_id, rank, cosine)` — shared
    * verbatim by the ann_cascade gate and the ann_recall_cascade
    * harness so the two oracles can never drift apart.
    */
  private lazy val cascadeCtes: String =
    s"""init AS (SELECT qv, row_number() OVER (
       |           ORDER BY ${h64("vec_id::VARCHAR")}, vec_id) - 1 AS cid
       |         FROM q QUALIFY cid < 16),
       |cb AS (SELECT cid, s AS sub, list_slice(qv, s*8+1, s*8+8) AS cqv
       |       FROM init, range(8) t(s)),
       |cbn AS (SELECT cid, sub, cqv,
       |          CAST(list_sum(list_transform(cqv, x -> x*x)) AS BIGINT) AS cn2 FROM cb),
       |subs AS (SELECT vec_id AS id, s AS sub, list_slice(qv, s*8+1, s*8+8) AS sv
       |         FROM q, range(8) t(s)),
       |subn AS (SELECT id, sub, sv,
       |           CAST(list_sum(list_transform(sv, x -> x*x)) AS BIGINT) AS sn2 FROM subs),
       |asg AS (SELECT id, sub, cid AS code FROM (
       |          SELECT v.id, v.sub, c.cid,
       |            row_number() OVER (PARTITION BY v.id, v.sub
       |              ORDER BY v.sn2 + c.cn2 - 2 * CAST(list_sum(list_transform(
       |                         list_zip(v.sv, c.cqv), z -> z[1]*z[2])) AS BIGINT) ASC,
       |                       c.cid ASC) AS rn
       |          FROM subn v JOIN cbn c ON c.sub = v.sub) WHERE rn = 1),
       |qtab AS (SELECT v.id AS query_id, v.sub, c.cid AS code,
       |           v.sn2 + c.cn2 - 2 * CAST(list_sum(list_transform(
       |             list_zip(v.sv, c.cqv), z -> z[1]*z[2])) AS BIGINT) AS qdist
       |         FROM subn v JOIN cbn c ON c.sub = v.sub
       |         WHERE v.id % 100 = 0),
       |nd AS (SELECT t.query_id, e.id AS neighbor_id,
       |         CAST(sum(t.qdist) AS BIGINT) AS adist
       |       FROM asg e JOIN qtab t ON t.sub = e.sub AND t.code = e.code
       |       WHERE e.id <> t.query_id
       |       GROUP BY 1, 2),
       |short AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY adist ASC, neighbor_id ASC) AS prank
       |  FROM nd) WHERE prank <= 25),
       |casc AS (SELECT query_id, neighbor_id, rank, cosine FROM (
       |  SELECT s.query_id, s.neighbor_id,
       |    row_number() OVER (PARTITION BY s.query_id ORDER BY
       |      CAST(list_sum(list_transform(list_zip(x.qv, qq.qv), z -> z[1] * z[2])) AS DOUBLE)
       |      / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(qq.n2 AS DOUBLE))) DESC,
       |      s.neighbor_id ASC) AS rank,
       |    round(CAST(list_sum(list_transform(list_zip(x.qv, qq.qv), z -> z[1] * z[2])) AS DOUBLE)
       |      / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(qq.n2 AS DOUBLE))), 6) AS cosine
       |  FROM short s JOIN n x ON x.vec_id = s.neighbor_id
       |               JOIN n qq ON qq.vec_id = s.query_id) WHERE rank <= 5)""".stripMargin

  /** The hashed-BoW logistic classifier's iters=1 replay as a
    * reusable CTE chain ending in `s(doc_id, score)` (labels ride
    * `cnt.y`) — shared by the score gate and the eval harness so the
    * two oracles can never drift.
    */
  private lazy val lrCtes: String =
    s"""nt AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
       |feats AS (
       |  SELECT doc_id, unnest(ws) AS feat FROM nt
       |  UNION ALL
       |  SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i+1 AS INT)] AS feat
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM nt)),
       |tm AS (SELECT doc_id, doc_id % 3 = 0 AND list_contains(ws, 'join') AS t
       |       FROM nt),
       |cnt AS (SELECT fx.doc_id, CASE WHEN t THEN 1 ELSE 0 END AS y,
       |               ${h64("feat")} % 256 AS f, count(*) AS x
       |        FROM feats fx JOIN tm USING (doc_id) GROUP BY 1, 2, 3),
       |nn AS (SELECT count(*) AS n FROM documents),
       |g AS (SELECT f, CAST(sum(x * (1000000 * y - 500000)) AS BIGINT) AS g
       |      FROM cnt GROUP BY 1),
       |w AS (SELECT f, CAST(round(CAST(g AS DOUBLE) / (2.0 * nn.n)) AS BIGINT) AS wq
       |      FROM g, nn),
       |s AS (SELECT cnt.doc_id, CAST(sum(x * wq) AS BIGINT) AS score
       |      FROM cnt JOIN w USING (f) GROUP BY 1)""".stripMargin

  /** The unrolled 3-round peel (shared by graph_kcore and its
    * fixpoint twin — see the twin's registry comment). */
  private lazy val kcoreOracleSql: String =
    s"""WITH nn AS (SELECT count(*) AS n FROM documents),
       |deg AS (SELECT doc_id AS id,
       |          1 + (${h64("'prdeg:' || doc_id::VARCHAR")} % 3) AS outdeg
       |        FROM documents),
       |ej AS (SELECT id AS src, outdeg,
       |         unnest(generate_series(0, CAST(outdeg - 1 AS INT))) AS j
       |       FROM deg),
       |e AS (SELECT src,
       |        ${h64("'pr:' || j::VARCHAR || ':' || src::VARCHAR")} % nn.n AS dst
       |      FROM ej, nn),
       |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |       FROM e WHERE src <> dst),
       |a1 AS (SELECT id FROM (SELECT unnest([a, b]) AS id FROM e0)
       |       GROUP BY 1 HAVING count(*) >= 2),
       |e1 AS (SELECT a, b FROM e0
       |       WHERE a IN (SELECT id FROM a1) AND b IN (SELECT id FROM a1)),
       |a2 AS (SELECT id FROM (SELECT unnest([a, b]) AS id FROM e1)
       |       GROUP BY 1 HAVING count(*) >= 2),
       |e2 AS (SELECT a, b FROM e1
       |       WHERE a IN (SELECT id FROM a2) AND b IN (SELECT id FROM a2)),
       |a3 AS (SELECT id FROM (SELECT unnest([a, b]) AS id FROM e2)
       |       GROUP BY 1 HAVING count(*) >= 2),
       |e3 AS (SELECT a, b FROM e2
       |       WHERE a IN (SELECT id FROM a3) AND b IN (SELECT id FROM a3))
       |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS degree
       |FROM (SELECT unnest([a, b]) AS id FROM e3) GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_quality_band" ->
      s"""WITH s AS (SELECT doc_id, lang,
         |        (CAST(len(replace(nt, ' ', '')) AS BIGINT) * 1000000)
         |          // len(string_split(nt, ' ')) AS score_micro
         |      FROM (SELECT doc_id, lang, $norm AS nt FROM documents)),
         |c AS (SELECT lang, score_micro, CAST(count(*) AS BIGINT) AS cnt
         |      FROM s GROUP BY 1, 2),
         |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
         |w AS (SELECT c.lang, score_micro,
         |        CAST(sum(cnt) OVER (PARTITION BY c.lang ORDER BY score_micro)
         |          AS BIGINT) AS cum, n.n
         |      FROM c JOIN n ON c.lang = n.lang),
         |b AS (SELECT lang,
         |        min(CASE WHEN cum >= CAST(floor(0.1 * (n - 1)) AS BIGINT) + 1
         |            THEN score_micro END) AS lo,
         |        min(CASE WHEN cum >= CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1
         |            THEN score_micro END) AS hi
         |      FROM w GROUP BY 1)
         |SELECT doc_id, lang, score_micro
         |FROM s JOIN b USING (lang)
         |WHERE score_micro >= lo AND score_micro <= hi""".stripMargin,
    "text_kn_logprob" ->
      s"""WITH a AS (SELECT doc_id, string_split($norm, ' ') AS arr FROM documents),
         |e AS (SELECT doc_id, unnest(list_transform(generate_series(2, len(arr)),
         |                i -> arr[i-1] || ' ' || arr[i])) AS bg
         |      FROM a WHERE len(arr) >= 2),
         |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM e GROUP BY 1),
         |sp AS (SELECT bg, c2, string_split(bg, ' ')[1] AS w1,
         |         string_split(bg, ' ')[2] AS w2 FROM c2),
         |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
         |         CAST(count(*) AS BIGINT) AS nf FROM sp GROUP BY 1),
         |nbk AS (SELECT w2, CAST(count(*) AS BIGINT) AS nb FROM sp GROUP BY 1),
         |nbg AS (SELECT CAST(count(*) AS BIGINT) AS nbg FROM c2),
         |lm AS (SELECT sp.bg,
         |         CAST(greatest(sp.c2 * 100 - 75, 0) AS DOUBLE)
         |             / CAST(c1.c1 * 100 AS DOUBLE)
         |           + CAST(75 * c1.nf AS DOUBLE) * CAST(nbk.nb AS DOUBLE)
         |             / (CAST(c1.c1 * 100 AS DOUBLE) * CAST(nbg.nbg AS DOUBLE))
         |           AS p
         |       FROM sp JOIN c1 USING (w1) JOIN nbk USING (w2), nbg)
         |SELECT e.doc_id, round(avg(ln(p)), 4) AS mean_logprob,
         |       count(*) AS n_bigrams
         |FROM e JOIN lm USING (bg)
         |GROUP BY e.doc_id""".stripMargin,
    "text_bigram_logprob" ->
      s"""WITH a AS (SELECT doc_id, string_split($norm, ' ') AS arr FROM documents),
         |e AS (SELECT doc_id, unnest(list_transform(generate_series(2, len(arr)),
         |                i -> arr[i-1] || ' ' || arr[i])) AS bg
         |      FROM a WHERE len(arr) >= 2),
         |c2 AS (SELECT bg, count(*) AS c2 FROM e GROUP BY 1),
         |c1 AS (SELECT string_split(bg, ' ')[1] AS w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
         |lm AS (SELECT bg, CAST(c2 AS DOUBLE) / c1 AS p
         |       FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.w1)
         |SELECT e.doc_id, round(avg(ln(p)), 4) AS mean_logprob,
         |       count(*) AS n_bigrams
         |FROM e JOIN lm USING (bg)
         |GROUP BY e.doc_id""".stripMargin,
    "text_ppl_bucket" ->
      s"""WITH a AS (SELECT doc_id, string_split($norm, ' ') AS arr FROM documents),
         |e AS (SELECT doc_id, unnest(list_transform(generate_series(2, len(arr)),
         |                i -> arr[i-1] || ' ' || arr[i])) AS bg
         |      FROM a WHERE len(arr) >= 2),
         |c2 AS (SELECT bg, count(*) AS c2 FROM e GROUP BY 1),
         |c1 AS (SELECT string_split(bg, ' ')[1] AS w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
         |lm AS (SELECT bg, CAST(c2 AS DOUBLE) / c1 AS p
         |       FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.w1),
         |sc AS (SELECT e.doc_id,
         |         CAST(sum(CAST(round(-ln(p) * 1000000) AS BIGINT))
         |              // count(*) AS BIGINT) AS cost_micro
         |       FROM e JOIN lm USING (bg) GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM sc),
         |ed AS (SELECT
         |  (SELECT cost_micro FROM sc ORDER BY cost_micro
         |   LIMIT 1 OFFSET ((SELECT n FROM nn) - 1) // 3) AS q_lo,
         |  (SELECT cost_micro FROM sc ORDER BY cost_micro
         |   LIMIT 1 OFFSET (((SELECT n FROM nn) - 1) * 2) // 3) AS q_hi)
         |SELECT doc_id, cost_micro,
         |  CASE WHEN cost_micro <= (SELECT q_lo FROM ed) THEN 'head'
         |       WHEN cost_micro <= (SELECT q_hi FROM ed) THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM sc""".stripMargin,
    "text_token_df_profile" ->
      s"""WITH toks AS (SELECT DISTINCT doc_id AS id, unnest(string_split($norm, ' ')) AS tok
         |              FROM documents),
         |c AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1)
         |SELECT CAST(length(CAST(cnt AS VARCHAR)) - 1 AS BIGINT) AS freq_decade,
         |       count(*) AS n_keys
         |FROM c GROUP BY 1""".stripMargin,
    "dedup_exact" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0)
         |SELECT md5($norm) AS content_hash, min(doc_id) AS keeper_id,
         |       count(*) AS n_copies
         |FROM corpus GROUP BY 1""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH toks AS (SELECT DISTINCT doc_id AS id, unnest(string_split($norm, ' ')) AS tok
         |              FROM documents),
         |seeds AS (SELECT j, ${h64("'a:' || j::VARCHAR")} % 1073741824 AS aj,
         |                 ${h64("'b:' || j::VARCHAR")} % 1073741824 AS bj
         |          FROM range(16) t(j)),
         |mh AS (SELECT id, j,
         |         min((aj * (${h64("tok")} % 1073741824) + bj) % 2147483647) AS h
         |       FROM toks, seeds GROUP BY 1, 2),
         |bands AS (SELECT id, j // 8 AS band, sum(h)::BIGINT AS sig
         |          FROM mh GROUP BY id, j // 8),
         |cands AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |          FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |          WHERE a.id < b.id),
         |toksh AS (SELECT DISTINCT id, ${h64("tok")} AS h FROM toks),
         |sizes AS (SELECT id, count(*) AS n FROM toksh GROUP BY 1),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
         |          FROM cands c
         |          JOIN toksh ta ON ta.id = c.id_a
         |          JOIN toksh tb ON tb.id = c.id_b AND tb.h = ta.h
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b, round(j, 6) AS jaccard FROM (
         |  SELECT i.id_a, i.id_b,
         |         CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) AS j
         |  FROM inter i
         |  JOIN sizes sa ON sa.id = i.id_a
         |  JOIN sizes sb ON sb.id = i.id_b) WHERE j >= $JAC_T""".stripMargin,
    "dedup_simhash" ->
      s"""WITH toks AS (SELECT DISTINCT doc_id AS id, unnest(string_split($norm, ' ')) AS tok
         |              FROM documents),
         |bits AS (SELECT id, b, sum(((${h64("tok")} // (1::BIGINT << b)) % 2) * 2 - 1) AS s
         |         FROM toks, range(60) t(b) GROUP BY 1, 2)
         |SELECT id AS doc_id,
         |       sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
         |FROM bits GROUP BY 1""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0),
         |d AS (SELECT doc_id AS id, $norm AS nt FROM corpus WHERE doc_id % 20 = 0),
         |sh AS (SELECT DISTINCT id, unnest(list_distinct(list_transform(
         |         generate_series(1, greatest(len(nt) - 4, 1)), i -> substr(nt, i, 5)))) AS tok
         |       FROM d),
         |rare AS (SELECT tok FROM sh GROUP BY tok HAVING count(*) <= $NGRAM_MAXDF),
         |cands AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |          FROM (SELECT id, tok FROM sh SEMI JOIN rare USING (tok)) a
         |          JOIN (SELECT id, tok FROM sh SEMI JOIN rare USING (tok)) b
         |            ON a.tok = b.tok AND a.id < b.id),
         |shh AS (SELECT DISTINCT id, ${h64("tok")} AS h FROM sh),
         |sizes AS (SELECT id, count(*) AS n FROM shh GROUP BY 1),
         |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
         |          FROM cands c
         |          JOIN shh ta ON ta.id = c.id_a
         |          JOIN shh tb ON tb.id = c.id_b AND tb.h = ta.h
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b, round(j, 6) AS jaccard FROM (
         |  SELECT i.id_a, i.id_b, CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) AS j
         |  FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b)
         |WHERE j >= $NGRAM_T""".stripMargin,
    "dedup_clusters" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0
         |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 50 = 0
         |  UNION ALL SELECT doc_id + 300000, text FROM documents WHERE doc_id % 50 = 0),
         |h AS (SELECT doc_id, md5($norm) AS h FROM corpus),
         |grp AS (SELECT h, min(doc_id) AS cluster, count(*) AS n FROM h GROUP BY h)
         |SELECT t.doc_id, g.cluster
         |FROM h t JOIN grp g USING (h) WHERE g.n > 1""".stripMargin,
    "dedup_clusters_star" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0
         |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 50 = 0
         |  UNION ALL SELECT doc_id + 300000, text FROM documents WHERE doc_id % 50 = 0),
         |h AS (SELECT doc_id, md5($norm) AS h FROM corpus),
         |grp AS (SELECT h, min(doc_id) AS cluster, count(*) AS n FROM h GROUP BY h)
         |SELECT t.doc_id, g.cluster
         |FROM h t JOIN grp g USING (h) WHERE g.n > 1""".stripMargin,
    "dedup_graph_store" ->
      s"""WITH RECURSIVE $gannDedupCtes
         |SELECT id AS vec_id, min(r) AS cluster FROM reach GROUP BY id"""
        .stripMargin,
    "dedup_graph" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0),
         |q AS (SELECT vec_id, list_transform(embedding,
         |        x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |      FROM corpus),
         |n AS (SELECT vec_id, qv,
         |        list_sum(list_transform(qv, x -> x * x)) AS n2 FROM q),
         |${nndChain("", "n", 5, 50)},
         |mu AS (SELECT a.vec_id AS id_a, a.neighbor_id AS id_b
         |       FROM g a JOIN g b ON b.vec_id = a.neighbor_id
         |         AND b.neighbor_id = a.vec_id
         |       WHERE a.vec_id < a.neighbor_id),
         |pc AS (SELECT mu.id_a, mu.id_b
         |       FROM mu JOIN n x ON x.vec_id = mu.id_a
         |         JOIN n y ON y.vec_id = mu.id_b
         |       WHERE round(${gsCos("x.qv", "x.n2", "y.qv", "y.n2")}, 6)
         |         >= $COS_T),
         |ed AS (SELECT id_a AS s, id_b AS d FROM pc
         |       UNION ALL SELECT id_b AS s, id_a AS d FROM pc),
         |vx AS (SELECT DISTINCT s AS id FROM ed),
         |reach AS (SELECT id, id AS r FROM vx
         |          UNION
         |          SELECT reach.id, e.d AS r FROM reach JOIN ed e ON e.s = reach.r)
         |SELECT id AS vec_id, min(r) AS cluster FROM reach GROUP BY id""".stripMargin,
    "dedup_embedding" ->
      s"""WITH $qPrep
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       round(CAST(list_sum(list_transform(list_zip(a.qv, b.qv), x -> x[1] * x[2])) AS DOUBLE)
         |             / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))), 6) AS cosine
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE CAST(list_sum(list_transform(list_zip(a.qv, b.qv), x -> x[1] * x[2])) AS DOUBLE)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= $COS_T""".stripMargin,
    "contamination_semantic" ->
      s"""WITH $qPrep,
         |pr AS (SELECT vec_id AS eval_id, qv, n2 FROM n WHERE vec_id % 100 = 0),
         |co AS (SELECT vec_id, qv, n2 FROM n WHERE vec_id % 100 <> 0),
         |sc AS (SELECT pr.eval_id, co.vec_id AS id,
         |    CAST(list_sum(list_transform(list_zip(co.qv, pr.qv), z -> z[1] * z[2])) AS DOUBLE)
         |      / (sqrt(CAST(co.n2 AS DOUBLE)) * sqrt(CAST(pr.n2 AS DOUBLE))) AS cos
         |  FROM co, pr),
         |f AS (SELECT eval_id, id, CAST(floor(cos * 1000000) AS BIGINT) AS cm
         |      FROM sc WHERE cos >= $COS_T),
         |h AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS n_hits FROM f GROUP BY 1),
         |t AS (SELECT eval_id, cm, id,
         |        row_number() OVER (PARTITION BY eval_id ORDER BY cm DESC, id ASC) AS rn
         |      FROM f)
         |SELECT pr.eval_id, coalesce(h.n_hits, 0) AS n_hits,
         |  coalesce(t.cm, -2000000) AS top_cos_micro,
         |  coalesce(t.id, -1) AS top_id
         |FROM pr LEFT JOIN h USING (eval_id)
         |LEFT JOIN (SELECT * FROM t WHERE rn = 1) t USING (eval_id)""".stripMargin,
    "ann_nndescent" ->
      s"""WITH $qPrep,
         |h AS (SELECT vec_id AS id,
         |        ${h64("vec_id::VARCHAR")} AS hid FROM n),
         |i AS (SELECT id, hid, hid % 50 AS bkt FROM h),
         |seed AS (SELECT a.id, b.id AS nid,
         |    row_number() OVER (PARTITION BY a.id ORDER BY b.hid, b.id) AS rn
         |  FROM i a JOIN i b ON a.bkt = b.bkt AND a.id <> b.id),
         |cur AS (SELECT id, nid FROM seed WHERE rn <= 5),
         |rev AS (SELECT nid AS id, id AS nid FROM cur),
         |two AS (SELECT x.id, y.nid FROM cur x JOIN cur y ON x.nid = y.id
         |        WHERE x.id <> y.nid),
         |cand AS (SELECT DISTINCT id, nid FROM
         |  (SELECT * FROM cur UNION ALL SELECT * FROM rev
         |   UNION ALL SELECT * FROM two)),
         |sc AS (SELECT c.id, c.nid,
         |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) AS DOUBLE)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
         |  FROM cand c JOIN n a ON a.vec_id = c.id JOIN n b ON b.vec_id = c.nid),
         |top AS (SELECT id, nid, cos,
         |    row_number() OVER (PARTITION BY id ORDER BY cos DESC, nid ASC) AS rank
         |  FROM sc)
         |SELECT id AS vec_id, nid AS neighbor_id, rank,
         |  round(cos, 6) AS cosine
         |FROM top WHERE rank <= 5""".stripMargin,
    "ann_graph_search" ->
      s"""WITH $gsSearchCtes
         |SELECT qid AS query_id, id AS neighbor_id, rank,
         |  round(cos, 6) AS cosine
         |FROM (SELECT qid, id, cos, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, id ASC) AS rank FROM v2)
         |WHERE rank <= 5""".stripMargin,
    "ann_graph_hier" ->
      s"""WITH $hierSearchCtes
         |SELECT qid AS query_id, id AS neighbor_id, rank,
         |  round(cos, 6) AS cosine
         |FROM (SELECT qid, id, cos, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, id ASC) AS rank FROM bv2)
         |WHERE rank <= 5""".stripMargin,
    "ann_graph_persisted" ->
      s"""WITH $gannSearchCtes
         |SELECT qid AS query_id, id AS neighbor_id, rank,
         |  round(cos, 6) AS cosine
         |FROM (SELECT qid, id, cos, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, id ASC) AS rank FROM pv2)
         |WHERE rank <= 5""".stripMargin,
    "ann_graph_delete" ->
      s"""WITH $gannDeleteCtes
         |SELECT qid AS query_id, id AS neighbor_id, rank,
         |  round(cos, 6) AS cosine
         |FROM (SELECT qid, id, cos, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, id ASC) AS rank FROM pv2)
         |WHERE rank <= 5""".stripMargin,
    "ann_graph_recall" ->
      s"""WITH $gsSearchCtes,
         |gs AS (SELECT qid AS query_id, id AS neighbor_id FROM (
         |    SELECT qid, id, row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, id ASC) AS rank FROM v2)
         |  WHERE rank <= 5),
         |exact AS (
         |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${gsCos("x.qv", "x.n2", "q.qv", "q.n2")} DESC, x.vec_id ASC) AS rank
         |  FROM n x JOIN n q ON q.vec_id % 100 = 0 AND x.vec_id <> q.vec_id
         |  QUALIFY rank <= 5)
         |SELECT e.query_id, count(*) AS n_exact,
         |       CAST(coalesce(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 END), 0)
         |         AS BIGINT) AS n_hits
         |FROM exact e LEFT JOIN gs i USING (query_id, neighbor_id)
         |GROUP BY 1""".stripMargin,
    "ann_dim_recall" ->
      s"""WITH $qPrep,
         |exact AS (
         |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id
         |  FROM n x JOIN n q ON q.vec_id % 100 = 0 AND x.vec_id <> q.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |    ${gsCos("x.qv", "x.n2", "q.qv", "q.n2")} DESC, x.vec_id ASC) <= 5),
         |${Seq(16, 32).map(d =>
            s"""s$d AS (SELECT vec_id, qv[1:$d] AS qv,
               |  list_sum(list_transform(qv[1:$d], x -> x * x)) AS n2 FROM q),
               |a$d AS (
               |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id
               |  FROM s$d x JOIN s$d q ON q.vec_id % 100 = 0 AND x.vec_id <> q.vec_id
               |  QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY
               |    ${gsCos("x.qv", "x.n2", "q.qv", "q.n2")} DESC, x.vec_id ASC) <= 5),
               |r$d AS (
               |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
               |    CAST(coalesce(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 END), 0)
               |      AS BIGINT) AS n_hits, CAST($d AS BIGINT) AS dim
               |  FROM exact e LEFT JOIN a$d a USING (query_id, neighbor_id)
               |  GROUP BY 1)""".stripMargin).mkString(",\n")}
         |SELECT * FROM r16 UNION ALL SELECT * FROM r32""".stripMargin,
    "ann_topk" ->
      s"""WITH $qPrep
         |SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |       row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |         CAST(list_sum(list_transform(list_zip(x.qv, q.qv), z -> z[1] * z[2])) AS DOUBLE)
         |         / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(q.n2 AS DOUBLE))) DESC, x.vec_id ASC) AS rank,
         |       round(CAST(list_sum(list_transform(list_zip(x.qv, q.qv), z -> z[1] * z[2])) AS DOUBLE)
         |             / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(q.n2 AS DOUBLE))), 6) AS cosine
         |FROM n x JOIN n q ON q.vec_id % 100 = 0 AND x.vec_id <> q.vec_id
         |QUALIFY rank <= 5""".stripMargin,
    "dedup_threshold_curve" ->
      s"""WITH $qPrep,
         |p AS (SELECT round(CAST(list_sum(list_transform(list_zip(a.qv, b.qv), x -> x[1] * x[2])) AS DOUBLE)
         |             / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))), 6) AS cosine
         |      FROM n a JOIN n b ON a.vec_id < b.vec_id
         |      WHERE CAST(list_sum(list_transform(list_zip(a.qv, b.qv), x -> x[1] * x[2])) AS DOUBLE)
         |            / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.2),
         |bk AS (SELECT CAST(floor(cosine * 20) AS BIGINT) AS bucket,
         |         CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM p GROUP BY 1)
         |SELECT bucket * 5 AS cos_lo_centi, n_pairs,
         |  CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS n_pairs_ge
         |FROM bk""".stripMargin,
    "ann_filtered" ->
      s"""WITH fq AS (SELECT vec_id, label, list_transform(embedding,
         |         x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |       FROM embeddings),
         |fn AS (SELECT vec_id, label, qv,
         |         list_sum(list_transform(qv, x -> x * x)) AS n2 FROM fq)
         |SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |       CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |         CAST(list_sum(list_transform(list_zip(x.qv, q.qv), z -> z[1] * z[2])) AS DOUBLE)
         |         / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(q.n2 AS DOUBLE))) DESC,
         |         x.vec_id ASC) AS BIGINT) AS rank,
         |       round(CAST(list_sum(list_transform(list_zip(x.qv, q.qv), z -> z[1] * z[2])) AS DOUBLE)
         |             / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(q.n2 AS DOUBLE))), 6) AS cosine
         |FROM fn x JOIN fn q ON q.vec_id % 100 = 0 AND x.vec_id <> q.vec_id
         |  AND x.label IS NOT DISTINCT FROM q.label
         |QUALIFY rank <= 5""".stripMargin,
    "ann_recall" ->
      s"""WITH $qPrep,
         |exact AS (
         |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      CAST(list_sum(list_transform(list_zip(x.qv, q.qv), z -> z[1] * z[2])) AS DOUBLE)
         |      / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(q.n2 AS DOUBLE))) DESC, x.vec_id ASC) AS rank
         |  FROM n x JOIN n q ON q.vec_id % 100 = 0 AND x.vec_id <> q.vec_id
         |  QUALIFY rank <= 5),
         |cents AS (SELECT vec_id AS cid, qv AS cqv, n2 AS cn2 FROM n WHERE vec_id % 50 = 0),
         |asg AS (SELECT vec_id, qv, n2, cid FROM (
         |   SELECT v.vec_id, v.qv, v.n2, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |       / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) DESC, c.cid ASC) AS rn
         |   FROM n v, cents c) WHERE rn = 1),
         |probes AS (SELECT qid, qqv, qn2, cid FROM (
         |   SELECT v.vec_id AS qid, v.qv AS qqv, v.n2 AS qn2, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |       / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) DESC, c.cid ASC) AS pr
         |   FROM n v, cents c WHERE v.vec_id % 100 = 0) WHERE pr <= 2),
         |ivf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      CAST(list_sum(list_transform(list_zip(p.qqv, a.qv), z -> z[1]*z[2])) AS DOUBLE)
         |      / (sqrt(CAST(p.qn2 AS DOUBLE))*sqrt(CAST(a.n2 AS DOUBLE))) DESC, a.vec_id ASC) AS rank
         |  FROM probes p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid)
         |  WHERE rank <= 5)
         |SELECT e.query_id, count(*) AS n_exact,
         |       CAST(coalesce(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 END), 0)
         |         AS BIGINT) AS n_hits
         |FROM exact e LEFT JOIN ivf i USING (query_id, neighbor_id)
         |GROUP BY 1""".stripMargin,
    "ann_hard_negatives" ->
      s"""WITH $qPrep,
         |cents AS (SELECT vec_id AS cid, qv AS cqv, n2 AS cn2 FROM n WHERE vec_id % 50 = 0),
         |asg AS (SELECT vec_id, qv, n2, cid FROM (
         |   SELECT v.vec_id, v.qv, v.n2, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |       / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) DESC, c.cid ASC) AS rn
         |   FROM n v, cents c) WHERE rn = 1),
         |probes AS (SELECT qid, qqv, qn2, cid FROM (
         |   SELECT v.vec_id AS qid, v.qv AS qqv, v.n2 AS qn2, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |       / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) DESC, c.cid ASC) AS pr
         |   FROM n v, cents c WHERE v.vec_id % 100 = 0) WHERE pr <= 2),
         |cand AS (SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM (
         |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
         |    CAST(list_sum(list_transform(list_zip(p.qqv, a.qv), z -> z[1]*z[2])) AS DOUBLE)
         |      / (sqrt(CAST(p.qn2 AS DOUBLE))*sqrt(CAST(a.n2 AS DOUBLE))) AS cosine,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      CAST(list_sum(list_transform(list_zip(p.qqv, a.qv), z -> z[1]*z[2])) AS DOUBLE)
         |      / (sqrt(CAST(p.qn2 AS DOUBLE))*sqrt(CAST(a.n2 AS DOUBLE))) DESC, a.vec_id ASC) AS rank
         |  FROM probes p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid)
         |WHERE rank <= 6)
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
         |  FROM cand WHERE neighbor_id <> query_id + 1)
         |WHERE rank <= 5""".stripMargin,
    "pipeline_export_triplets" ->
      s"""WITH $qPrep,
         |cents AS (SELECT vec_id AS cid, qv AS cqv, n2 AS cn2 FROM n WHERE vec_id % 50 = 0),
         |asg AS (SELECT vec_id, qv, n2, cid FROM (
         |   SELECT v.vec_id, v.qv, v.n2, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |       / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) DESC, c.cid ASC) AS rn
         |   FROM n v, cents c) WHERE rn = 1),
         |probes AS (SELECT qid, qqv, qn2, cid FROM (
         |   SELECT v.vec_id AS qid, v.qv AS qqv, v.n2 AS qn2, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |       / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) DESC, c.cid ASC) AS pr
         |   FROM n v, cents c WHERE v.vec_id % 100 = 0) WHERE pr <= 2),
         |cand AS (SELECT query_id, neighbor_id, round(cosine, 6) AS cosine FROM (
         |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
         |    CAST(list_sum(list_transform(list_zip(p.qqv, a.qv), z -> z[1]*z[2])) AS DOUBLE)
         |      / (sqrt(CAST(p.qn2 AS DOUBLE))*sqrt(CAST(a.n2 AS DOUBLE))) AS cosine,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      CAST(list_sum(list_transform(list_zip(p.qqv, a.qv), z -> z[1]*z[2])) AS DOUBLE)
         |      / (sqrt(CAST(p.qn2 AS DOUBLE))*sqrt(CAST(a.n2 AS DOUBLE))) DESC, a.vec_id ASC) AS rank
         |  FROM probes p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid)
         |WHERE rank <= 4),
         |hn AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
         |  FROM cand WHERE neighbor_id <> query_id + 1)
         |WHERE rank <= 3),
         |t AS (SELECT query_id, query_id + 1 AS positive_id,
         |        neighbor_id AS negative_id, rank FROM hn)
         |SELECT (query_id // 100) % 4 AS bucket, CAST(count(*) AS BIGINT) AS n_triplets,
         |  min(rank) AS min_rank, max(rank) AS max_rank,
         |  bit_xor(${h64("query_id::VARCHAR || ':' || positive_id::VARCHAR || ':' || negative_id::VARCHAR || ':' || rank::VARCHAR")})
         |    AS content_xor
         |FROM t GROUP BY 1""".stripMargin,
    "ann_mrr" ->
      s"""WITH $qPrep,
         |cents AS (SELECT vec_id AS cid, qv AS cqv, n2 AS cn2 FROM n WHERE vec_id % 50 = 0),
         |asg AS (SELECT vec_id, qv, n2, cid FROM (
         |   SELECT v.vec_id, v.qv, v.n2, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |       / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) DESC, c.cid ASC) AS rn
         |   FROM n v, cents c) WHERE rn = 1),
         |probes AS (SELECT qid, qqv, qn2, cid FROM (
         |   SELECT v.vec_id AS qid, v.qv AS qqv, v.n2 AS qn2, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |       / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) DESC, c.cid ASC) AS pr
         |   FROM n v, cents c WHERE v.vec_id % 100 = 0) WHERE pr <= 2),
         |cand AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      CAST(list_sum(list_transform(list_zip(p.qqv, a.qv), z -> z[1]*z[2])) AS DOUBLE)
         |      / (sqrt(CAST(p.qn2 AS DOUBLE))*sqrt(CAST(a.n2 AS DOUBLE))) DESC, a.vec_id ASC) AS rank
         |  FROM probes p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid)
         |WHERE rank <= 5),
         |lab AS (SELECT vec_id AS query_id, vec_id + 1 AS positive_id
         |        FROM embeddings WHERE vec_id % 100 = 0),
         |hit AS (SELECT l.query_id,
         |          coalesce(1000000 // c.rank, 0) AS rr_micro,
         |          CASE WHEN c.rank IS NOT NULL THEN 1 ELSE 0 END AS hit
         |        FROM lab l LEFT JOIN cand c
         |          ON c.query_id = l.query_id AND c.neighbor_id = l.positive_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(rr_micro) // count(*) AS BIGINT) AS mrr_micro,
         |  CAST((sum(hit) * 1000000) // count(*) AS BIGINT) AS recall_ppm
         |FROM hit""".stripMargin,
    "ann_ivf" ->
      s"""WITH $qPrep,
         |cents AS (SELECT vec_id AS cid, qv AS cqv, n2 AS cn2 FROM n WHERE vec_id % 50 = 0),
         |asg AS (SELECT vec_id, qv, n2, cid FROM (
         |   SELECT v.vec_id, v.qv, v.n2, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |       / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) DESC, c.cid ASC) AS rn
         |   FROM n v, cents c) WHERE rn = 1),
         |probes AS (SELECT qid, qqv, qn2, cid FROM (
         |   SELECT v.vec_id AS qid, v.qv AS qqv, v.n2 AS qn2, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |       / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) DESC, c.cid ASC) AS pr
         |   FROM n v, cents c WHERE v.vec_id % 100 = 0) WHERE pr <= 2)
         |SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine FROM (
         |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
         |    CAST(list_sum(list_transform(list_zip(p.qqv, a.qv), z -> z[1]*z[2])) AS DOUBLE)
         |      / (sqrt(CAST(p.qn2 AS DOUBLE))*sqrt(CAST(a.n2 AS DOUBLE))) AS cosine,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      CAST(list_sum(list_transform(list_zip(p.qqv, a.qv), z -> z[1]*z[2])) AS DOUBLE)
         |      / (sqrt(CAST(p.qn2 AS DOUBLE))*sqrt(CAST(a.n2 AS DOUBLE))) DESC, a.vec_id ASC) AS rank
         |  FROM probes p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid)
         |WHERE rank <= 5""".stripMargin,
    "sample_diverse" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
         |             x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv FROM embeddings),
         |dots AS (SELECT vec_id, p,
         |           list_sum(list_transform(qv, (x, i) ->
         |             x * (${h64("'42' || ':' || p::VARCHAR || ':' || i::VARCHAR")} % 2001 - 1000))) AS dot
         |         FROM q, range(8) t(p)),
         |bk AS (SELECT vec_id,
         |         sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
         |       FROM dots GROUP BY 1)
         |SELECT bucket, CAST(min(vec_id) AS BIGINT) AS keeper_id,
         |  CAST(count(*) AS BIGINT) AS n_members
         |FROM bk GROUP BY 1""".stripMargin,
    "ann_lsh" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
         |             x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv FROM embeddings),
         |dots AS (SELECT vec_id, p,
         |           list_sum(list_transform(qv, (x, i) ->
         |             x * (${h64("'42' || ':' || p::VARCHAR || ':' || i::VARCHAR")} % 2001 - 1000))) AS dot
         |         FROM q, range(8) t(p))
         |SELECT vec_id,
         |       sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
         |FROM dots GROUP BY 1""".stripMargin,
    "ann_lsh_pairs" ->
      s"""WITH $qPrep,
         |dots AS (SELECT vec_id, p,
         |           list_sum(list_transform(qv, (x, i) ->
         |             x * (${h64("'42' || ':' || p::VARCHAR || ':' || i::VARCHAR")} % 2001 - 1000))) AS dot
         |         FROM q, range(8) t(p)),
         |bk AS (SELECT vec_id,
         |         sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
         |       FROM dots GROUP BY 1),
         |nb AS (SELECT n.vec_id, n.qv, n.n2, bk.bucket FROM n JOIN bk USING (vec_id))
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       round(CAST(list_sum(list_transform(list_zip(a.qv, b.qv), x -> x[1] * x[2])) AS DOUBLE)
         |             / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))), 6) AS cosine
         |FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE CAST(list_sum(list_transform(list_zip(a.qv, b.qv), x -> x[1] * x[2])) AS DOUBLE)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= $COS_T""".stripMargin,
    "text_length_profile" ->
      s"""WITH d AS (SELECT len(string_split($norm, ' '))::BIGINT AS n
         |           FROM documents),
         |b AS (SELECT n, CAST(length(bin(n)) - 1 AS BIGINT) AS bucket FROM d),
         |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n) AS BIGINT) AS token_mass,
         |        CAST(sum(greatest(n - 64, 0)) AS BIGINT) AS truncated_mass
         |      FROM b GROUP BY 1)
         |SELECT bucket, n_docs, token_mass, truncated_mass,
         |  CAST((truncated_mass * 1000000) // token_mass AS BIGINT)
         |    AS truncated_ppm
         |FROM g""".stripMargin,
    "text_tokens" ->
      s"""SELECT doc_id, len(string_split(nt, ' ')) AS ws_tokens,
         |       len(regexp_extract_all(nt, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens
         |FROM (SELECT doc_id, $norm AS nt FROM documents)""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         |  len(text) AS n_chars,
         |  len(string_split(nt, ' ')) AS n_tokens,
         |  CAST(len(regexp_replace(text, '[a-z0-9A-Z ]', '', 'g')) AS DOUBLE) / len(text) AS punct_ratio,
         |  CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / len(text) AS digit_ratio,
         |  CAST(len(list_filter(string_split(nt, ' '),
         |       t -> t in ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
         |    / len(string_split(nt, ' ')) AS stopword_ratio,
         |  CAST(len(replace(nt, ' ', '')) AS DOUBLE) / len(string_split(nt, ' ')) AS mean_token_len
         |FROM (SELECT doc_id, text, $norm AS nt FROM documents)""".stripMargin,
    "text_code_detect" ->
      s"""WITH aug AS (SELECT doc_id,
         |    CASE WHEN doc_id % 9 = 0 THEN text ||
         |      repeat(chr(10) || '    var x = f(a[i]); const y = {b: (c < d)};', 8)
         |    ELSE text END AS text
         |  FROM documents),
         |c AS (SELECT doc_id, text,
         |        lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
         |      FROM aug),
         |f AS (SELECT doc_id,
         |        length(text)::BIGINT AS n_chars,
         |        len(string_split(nt, ' '))::BIGINT AS n_words,
         |        len(regexp_extract_all(text, '[{}();=<>\\[\\]]+'))::BIGINT AS n_syms,
         |        len(list_filter(string_split(nt, ' '), t -> t in
         |          ('def','return','import','var','const','function',
         |           'class','void','int','if','else','for','while')))::BIGINT AS n_kw,
         |        len(regexp_extract_all(text, '(?m)^(    |\\t)'))::BIGINT AS n_indent
         |      FROM c),
         |g AS (SELECT *,
         |        (n_syms * 1000000) // greatest(n_chars, 1) AS sym_ppm,
         |        (n_kw * 1000000) // greatest(n_words, 1) AS kw_ppm
         |      FROM f)
         |SELECT doc_id, n_chars, n_words, n_syms, n_kw, n_indent,
         |  CAST(sym_ppm AS BIGINT) AS sym_ppm, CAST(kw_ppm AS BIGINT) AS kw_ppm,
         |  CASE WHEN sym_ppm > 40000 AND (n_kw >= 2 OR n_indent >= 2)
         |       THEN 1 ELSE 0 END AS is_code
         |FROM g""".stripMargin,
    "pipeline_route_corpus" ->
      s"""WITH aug AS (SELECT doc_id,
         |    CASE WHEN doc_id % 9 = 0 THEN text ||
         |      repeat(chr(10) || '    var x = f(a[i]); const y = {b: (c < d)};', 8)
         |    ELSE text END AS text
         |  FROM documents),
         |c AS (SELECT doc_id, text,
         |        lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
         |      FROM aug),
         |f AS (SELECT doc_id,
         |        length(text)::BIGINT AS n_chars,
         |        len(regexp_extract_all(text, '[{}();=<>\\[\\]]+'))::BIGINT AS n_syms,
         |        len(string_split(nt, ' '))::BIGINT AS w,
         |        len(list_filter(string_split(nt, ' '), t -> t in
         |          ('def','return','import','var','const','function',
         |           'class','void','int','if','else','for','while')))::BIGINT AS n_kw,
         |        len(regexp_extract_all(text, '(?m)^(    |\\t)'))::BIGINT AS n_indent,
         |        greatest(len(regexp_extract_all(nt, '[.!?]+')), 1)::BIGINT AS s,
         |        len(regexp_extract_all(nt, '[aeiouy]+'))::BIGINT AS y
         |      FROM c),
         |r AS (SELECT doc_id, n_chars,
         |        CASE WHEN (n_syms * 1000000) // greatest(n_chars, 1) > 40000
         |               AND (n_kw >= 2 OR n_indent >= 2) THEN 1 ELSE 0 END AS is_code,
         |        w, (390 * w) // s + (11800 * y) // greatest(w, 1) - 15590 AS fk
         |      FROM f),
         |t AS (SELECT CASE WHEN is_code = 1 THEN 'code'
         |        WHEN w >= 10 AND fk >= 0 AND fk <= 14000 THEN 'prose_kept'
         |        ELSE 'prose_dropped' END AS route, n_chars FROM r)
         |SELECT route, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
         |FROM t GROUP BY 1""".stripMargin,
    "text_readability" ->
      s"""WITH c AS (SELECT doc_id,
         |    len(string_split(nt, ' '))::BIGINT AS w,
         |    greatest(len(regexp_extract_all(nt, '[.!?]+')), 1)::BIGINT AS s,
         |    len(regexp_extract_all(nt, '[aeiouy]+'))::BIGINT AS y
         |  FROM (SELECT doc_id, $norm AS nt FROM documents))
         |SELECT doc_id, w AS n_words, s AS n_sentences, y AS n_syllables,
         |  CAST((390 * w) // s + (11800 * y) // w - 15590 AS BIGINT)
         |    AS fk_grade_milli,
         |  CAST(206835 - (1015 * w) // s - (84600 * y) // w AS BIGINT)
         |    AS fre_milli
         |FROM c""".stripMargin,
    "text_langid" ->
      s"""SELECT doc_id, s_en, s_de, s_fr, s_es, s_zh,
         |  CASE WHEN s_en = m THEN 'en' WHEN s_de = m THEN 'de' WHEN s_fr = m THEN 'fr'
         |       WHEN s_es = m THEN 'es' WHEN s_zh = m THEN 'zh' ELSE 'und' END AS lang_pred
         |FROM (SELECT doc_id, s_en, s_de, s_fr, s_es, s_zh,
         |        greatest(s_en, s_de, s_fr, s_es, s_zh) AS m
         |      FROM (SELECT doc_id,
         |        len(list_filter(string_split(nt,' '), t -> t in ('the','a','and','of','to','is','in','it'))) AS s_en,
         |        len(list_filter(string_split(nt,' '), t -> t in ('der','die','und','das','ist','ein','nicht','zu'))) AS s_de,
         |        len(list_filter(string_split(nt,' '), t -> t in ('le','la','et','les','des','un','est','que'))) AS s_fr,
         |        len(list_filter(string_split(nt,' '), t -> t in ('el','los','y','las','es','un','una','por'))) AS s_es,
         |        len(list_filter(string_split(nt,' '), t -> t in ('的','是','不','我','在','了','有','这'))) AS s_zh
         |        FROM (SELECT doc_id, $norm AS nt FROM documents)))""".stripMargin,
    "text_scrub" ->
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    'https?://[^ ]+', '<URL>', 'g'),
         |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
         |    '[0-9]{5,}', '<NUM>', 'g') AS scrubbed,
         |  len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS n_email,
         |  len(regexp_extract_all(t, 'https?://[^ ]+')) AS n_url
         |FROM (SELECT doc_id,
         |        text || ' contact user' || doc_id::VARCHAR
         |             || '@example.com via https://ex.com/p?id=' || doc_id::VARCHAR
         |             || ' ref 1234567' || doc_id::VARCHAR AS t
         |      FROM documents)""".stripMargin,
    "text_html_extract" ->
      s"""WITH h AS (SELECT doc_id,
         |  '<html><head><title>Doc ' || doc_id::VARCHAR
         |    || ' &amp; friends</title><style type="text/css">p { margin: 0; }</style></head><body><!-- crawl marker --><h1>Doc '
         |    || doc_id::VARCHAR
         |    || '</h1><p>First &amp; foremost: 1 &lt; 2, &quot;it&#39;s&quot;&nbsp;true.</p><div class="c">'
         |    || text
         |    || '</div><script>if (1 < 2) { var x = "</p>"; }</script></body></html>' AS html
         |  FROM documents),
         |s AS (SELECT doc_id, html,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
         |    '(?is)<head(\\s[^>]*)?>.*?</head>', ' ', 'g'),
         |    '(?is)<(script|style)(\\s[^>]*)?>.*?</(script|style)>', ' ', 'g'),
         |    '(?s)<!--.*?-->', ' ', 'g'),
         |    '<[^>]+>', ' ', 'g') AS t FROM h),
         |d AS (SELECT doc_id, html,
         |  replace(replace(replace(replace(replace(replace(t,
         |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
         |    '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t2 FROM s),
         |f AS (SELECT doc_id, html, trim(regexp_replace(t2, '\\s+', ' ', 'g')) AS text FROM d)
         |SELECT doc_id,
         |  regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
         |  text, CAST(len(text) AS BIGINT) AS n_chars
         |FROM f""".stripMargin,
    "text_boilerplate" ->
      s"""WITH d AS (SELECT doc_id, source,
         |        'NAV ' || source || ' HOME' || chr(10)
         |          || CASE WHEN doc_id % 10 < 3
         |             THEN 'PROMO ' || source || ' SALE' || chr(10)
         |             ELSE '' END
         |          || text || chr(10)
         |          || 'COPYRIGHT ' || source || ' FOOTER' AS t
         |      FROM documents),
         |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS nd
         |       FROM d GROUP BY 1),
         |ls AS (SELECT doc_id, source, string_split(t, chr(10)) AS a
         |       FROM d),
         |l AS (SELECT doc_id, source, i, a[i] AS line
         |      FROM ls, unnest(generate_series(1, len(a))) AS u(i)
         |      WHERE len(trim(a[i])) > 0),
         |lh AS (SELECT doc_id, source, i, line,
         |        md5(lower(trim(regexp_replace(line, '\\s+', ' ', 'g'))))
         |          AS h
         |       FROM l),
         |lf AS (SELECT source, h,
         |        CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |       FROM lh GROUP BY 1, 2),
         |flag AS (SELECT source, h FROM lf JOIN nd USING (source)
         |         WHERE df >= 2 AND df * 1000000 >= 500000 * nd),
         |m AS (SELECT lh.doc_id, lh.source, lh.i, lh.line,
         |        CASE WHEN flag.h IS NOT NULL THEN 1 ELSE 0 END AS bp
         |      FROM lh LEFT JOIN flag
         |        ON lh.source = flag.source AND lh.h = flag.h),
         |agg AS (SELECT doc_id, source,
         |        coalesce(string_agg(CASE WHEN bp = 0 THEN line END,
         |          chr(10) ORDER BY i), '') AS text,
         |        CAST(sum(CASE WHEN bp = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_lines_kept,
         |        CAST(sum(bp) AS BIGINT) AS n_lines_dropped
         |      FROM m GROUP BY 1, 2)
         |SELECT d.doc_id, d.source, coalesce(agg.text, '') AS text,
         |  coalesce(agg.n_lines_kept, 0) AS n_lines_kept,
         |  coalesce(agg.n_lines_dropped, 0) AS n_lines_dropped
         |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin,
    "text_markdown_extract" ->
      s"""WITH m AS (SELECT doc_id,
         |  '# Doc ' || doc_id::VARCHAR || chr(10) || chr(10)
         |    || '> intro quote' || chr(10)
         |    || 'First *em* **strong** `inline(code)` [go](https://ex.invalid/'
         |    || doc_id::VARCHAR || ') ![logo](l.png)' || chr(10)
         |    || '- item one' || chr(10) || '2. item two' || chr(10)
         |    || '```' || chr(10) || 'if (1 < 2) { x = "# not a header"; }'
         |    || chr(10) || '```' || chr(10) || text || chr(10) || '---'
         |    || chr(10) AS md
         |  FROM documents),
         |s AS (SELECT doc_id, md,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |  regexp_replace(regexp_replace(md,
         |    '(?s)${"```"}.*?${"```"}', ' ', 'g'),
         |    '`([^`]*)`', '\\1', 'g'),
         |    '!\\[([^\\]]*)\\]\\([^)]*\\)', '\\1', 'g'),
         |    '\\[([^\\]]*)\\]\\([^)]*\\)', '\\1', 'g'),
         |    '(?m)^#{1,6}[ \\t]*', '', 'g'),
         |    '(?m)^(=+|-{2,}|\\*{3,})[ \\t]*$$', ' ', 'g'),
         |    '(?m)^[ \\t]*>[ \\t]?', '', 'g'),
         |    '(?m)^[ \\t]*[-*+][ \\t]+', '', 'g'),
         |    '(?m)^[ \\t]*[0-9]+\\.[ \\t]+', '', 'g'),
         |    '\\*\\*|__|~~|\\*', '', 'g') AS t FROM m),
         |f AS (SELECT doc_id, md,
         |        trim(regexp_replace(t, '\\s+', ' ', 'g')) AS text
         |      FROM s)
         |SELECT doc_id, text, CAST(len(text) AS BIGINT) AS n_chars,
         |  CAST(len(regexp_extract_all(md, '(?s)${"```"}.*?${"```"}'))
         |    AS BIGINT) AS n_code_blocks,
         |  CAST(len(regexp_extract_all(md, '\\]\\(')) AS BIGINT) AS n_links,
         |  CAST(len(regexp_extract_all(md, '!\\[')) AS BIGINT) AS n_images
         |FROM f""".stripMargin,
    "text_vocab" ->
      s"""WITH toks AS (SELECT unnest(list_distinct(string_split($norm, ' '))) AS token
         |              FROM documents)
         |SELECT token, count(*) AS doc_freq FROM toks
         |GROUP BY 1 ORDER BY doc_freq DESC, token ASC LIMIT 100""".stripMargin,
    "text_unigram_logprob" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
         |              FROM documents),
         |dtoks AS (SELECT doc_id, unnest(list_distinct(string_split($norm, ' '))) AS tok
         |          FROM documents),
         |dfreq AS (SELECT tok, count(*) AS doc_freq FROM dtoks GROUP BY 1)
         |SELECT t.doc_id,
         |  round(avg(ln(doc_freq::DOUBLE / (SELECT count(*) FROM documents))), 4) AS mean_logprob,
         |  count(*) AS n_tokens
         |FROM toks t JOIN dfreq USING (tok)
         |GROUP BY t.doc_id""".stripMargin,
    "text_repetition" ->
      s"""WITH d AS (SELECT doc_id, string_split($norm, ' ') AS l FROM documents),
         |b AS (SELECT doc_id, l,
         |        CASE WHEN len(l) > 1
         |          THEN list_transform(generate_series(1, len(l) - 1),
         |                 i -> l[i] || ' ' || l[i + 1])
         |          ELSE CAST([] AS VARCHAR[]) END AS bg
         |      FROM d)
         |SELECT doc_id, len(l) AS n_tokens,
         |  round(1 - CAST(len(list_distinct(l)) AS DOUBLE) / len(l), 6) AS dup_token_frac,
         |  CASE WHEN len(bg) > 0
         |    THEN round(1 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6)
         |    ELSE 0.0 END AS dup_bigram_frac
         |FROM b""".stripMargin,
    "text_contamination" ->
      s"""WITH d AS (SELECT doc_id, string_split($norm, ' ') AS l FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(
         |        CASE WHEN len(l) >= 3
         |          THEN list_transform(generate_series(1, len(l) - 2),
         |                 i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])
         |          ELSE CAST([] AS VARCHAR[]) END)) AS gram
         |      FROM d),
         |p AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
         |SELECT g.doc_id, count(*) AS n_shared_ngrams,
         |  CASE WHEN count(*) >= 5 THEN 1 ELSE 0 END AS contaminated
         |FROM g JOIN p USING (gram)
         |WHERE g.doc_id % 97 <> 0
         |GROUP BY g.doc_id""".stripMargin,
    "text_canary" ->
      s"""SELECT doc_id,
         |  CASE WHEN ${h64("'graft-canary:' || doc_id::VARCHAR")} % 1000000 < 40000
         |       THEN 1 ELSE 0 END AS has_canary,
         |  CASE WHEN ${h64("'graft-canary:' || doc_id::VARCHAR")} % 1000000 < 40000
         |       THEN 'canary-' || substr(md5('graft-canary:' || doc_id::VARCHAR), 1, 12)
         |       ELSE '' END AS found
         |FROM documents""".stripMargin,
    "text_wordlist" ->
      s"""WITH d AS (SELECT doc_id,
         |        list_filter(string_split($norm, ' '), t -> len(t) > 0) AS toks
         |      FROM documents),
         |c AS (
         |  SELECT doc_id, 'perf' AS category, CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(toks, t -> list_contains(['slow', 'fast'], t)))
         |      AS BIGINT) AS n_hits
         |  FROM d
         |  UNION ALL
         |  SELECT doc_id, 'sql', CAST(len(toks) AS BIGINT),
         |    CAST(len(list_filter(toks, t -> list_contains(['select', 'drop', 'merge'], t)))
         |      AS BIGINT)
         |  FROM d)
         |SELECT doc_id, category, n_tokens, n_hits,
         |  CASE WHEN n_tokens > 0 THEN n_hits * 1000000 // n_tokens
         |       ELSE 0 END AS hit_ppm,
         |  CASE WHEN n_hits > 0 AND n_hits * 1000000 >= 100000 * n_tokens
         |       THEN 1 ELSE 0 END AS flagged
         |FROM c""".stripMargin,
    "text_zipf_slope" ->
      s"""WITH tk AS (SELECT unnest(string_split($norm, ' ')) AS token
         |            FROM documents),
         |tc AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tk
         |       WHERE len(token) > 0 GROUP BY 1 HAVING count(*) >= 2),
         |g AS (SELECT freq, CAST(count(*) AS BIGINT) AS g FROM tc GROUP BY 1),
         |o AS (SELECT freq, g, CAST(coalesce(sum(g) OVER (ORDER BY freq DESC
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |        AS off
         |      FROM g),
         |r AS (SELECT freq, unnest(generate_series(off + 1, off + g)) AS rank
         |      FROM o),
         |q AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         |        CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS y
         |      FROM r),
         |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |        sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |        sum(CAST(x * x AS HUGEINT)) AS sxx,
         |        sum(CAST(x * y AS HUGEINT)) AS sxy
         |      FROM q)
         |SELECT CAST(n AS BIGINT) AS n_tokens,
         |  CASE WHEN n * sxx - sx * sx > 0
         |       THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
         |              / CAST(n * sxx - sx * sx AS DOUBLE), 6)
         |  END AS zipf_slope
         |FROM m""".stripMargin,
    "text_cdc_chunk" ->
      s"""WITH ${cdcChunkCtes("documents")}
         |SELECT doc_id, chunk_idx, start_pos, chunk_len, chunk_md5
         |FROM cch""".stripMargin,
    "dedup_cdc_chunks" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0),
         |${cdcChunkCtes("corpus")}
         |SELECT chunk_md5,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occurrences,
         |  CAST(min(chunk_len) AS BIGINT) AS chunk_len
         |FROM cch GROUP BY 1 HAVING count(DISTINCT doc_id) > 1""".stripMargin,
    "text_ngram_coverage" ->
      s"""WITH d AS (SELECT doc_id, string_split($norm, ' ') AS l FROM documents),
         |g AS (SELECT doc_id, unnest(list_distinct(
         |        CASE WHEN len(l) >= 3
         |          THEN list_transform(generate_series(1, len(l) - 2),
         |                 i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])
         |          ELSE CAST([] AS VARCHAR[]) END)) AS gram
         |      FROM d),
         |p AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         |c AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |        CAST(count(p.gram) AS BIGINT) AS n_matched
         |      FROM g LEFT JOIN p ON g.gram = p.gram
         |      WHERE g.doc_id % 97 <> 0 GROUP BY g.doc_id)
         |SELECT d.doc_id, coalesce(c.n_grams, 0) AS n_grams,
         |  coalesce(c.n_matched, 0) AS n_matched,
         |  CASE WHEN coalesce(c.n_grams, 0) > 0
         |       THEN c.n_matched * 1000000 // c.n_grams ELSE 0 END AS cov_ppm,
         |  CASE WHEN (CASE WHEN coalesce(c.n_grams, 0) > 0
         |             THEN c.n_matched * 1000000 // c.n_grams ELSE 0 END) >= 600000
         |       THEN 1 ELSE 0 END AS flagged
         |FROM d LEFT JOIN c ON d.doc_id = c.doc_id
         |WHERE d.doc_id % 97 <> 0""".stripMargin,
    "dedup_incremental" -> incrementalOracle,
    // bloom prefilter + exact confirm == exact incremental admission
    // (no false negatives; the confirm join kills the fp tail) — the
    // SAME oracle gates both paths
    "dedup_bloom_prefilter" -> incrementalOracle,
    "text_df_prune" ->
      s"""WITH d AS (SELECT doc_id, string_split($norm, ' ') AS toks FROM documents),
         |t AS (SELECT DISTINCT doc_id, tok
         |      FROM (SELECT doc_id, unnest(toks) AS tok FROM d)),
         |dfc AS (SELECT tok, count(*) AS df FROM t GROUP BY 1),
         |n AS (SELECT count(*) AS nd FROM documents),
         |hd AS (SELECT coalesce(list(tok ORDER BY tok), CAST([] AS VARCHAR[])) AS hs
         |       FROM dfc, n WHERE df > nd * 0.75)
         |SELECT doc_id,
         |  len(toks) - len(list_filter(toks, x -> NOT list_contains(hs, x))) AS n_removed,
         |  coalesce(array_to_string(
         |    list_filter(toks, x -> NOT list_contains(hs, x)), ' '), '') AS pruned
         |FROM d, hd""".stripMargin,
    "dedup_source_overlap" ->
      s"""WITH corpus AS (
         |  SELECT source, text FROM documents
         |  UNION ALL
         |  SELECT 'mirror' AS source, text FROM documents WHERE doc_id % 50 = 0),
         |h AS (SELECT DISTINCT source, md5($norm) AS ch FROM corpus)
         |SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
         |FROM h a JOIN h b ON a.ch = b.ch AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,
    "text_chunk" ->
      s"""WITH t AS (SELECT doc_id, string_split($norm, ' ') AS toks FROM documents),
         |c AS (SELECT doc_id, toks,
         |        CASE WHEN len(toks) <= 64 THEN 1
         |             ELSE 1 + (len(toks) - 64 + 47) // 48 END AS nch
         |      FROM t),
         |e AS (SELECT doc_id, toks, unnest(range(nch)) AS chunk_id FROM c)
         |SELECT doc_id, chunk_id,
         |  len(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS n_tokens,
         |  array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ') AS chunk
         |FROM e""".stripMargin,
    "pipeline_clean_corpus" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text, lang FROM documents WHERE doc_id % 50 = 0),
         |scored AS (SELECT doc_id, lang, text, $norm AS nt FROM corpus),
         |flt AS (SELECT doc_id, lang, nt, len(string_split(nt, ' ')) AS n_tokens
         |        FROM scored
         |        WHERE len(string_split(nt, ' ')) >= 20
         |          AND CAST(len(regexp_replace(text, '[a-z0-9A-Z ]', '', 'g')) AS DOUBLE) / len(text) < 0.2),
         |ddp AS (SELECT doc_id, lang, nt, n_tokens FROM flt
         |        QUALIFY doc_id = min(doc_id) OVER (PARTITION BY nt)),
         |d2 AS (SELECT doc_id, string_split(nt, ' ') AS l FROM ddp),
         |g AS (SELECT doc_id, unnest(list_distinct(
         |        CASE WHEN len(l) >= 3
         |          THEN list_transform(generate_series(1, len(l) - 2),
         |                 i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])
         |          ELSE CAST([] AS VARCHAR[]) END)) AS gram
         |      FROM d2),
         |p AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         |bad AS (SELECT g.doc_id FROM g JOIN p USING (gram)
         |        WHERE g.doc_id % 97 <> 0
         |        GROUP BY g.doc_id HAVING count(*) >= 5)
         |SELECT doc_id, lang, n_tokens FROM ddp
         |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,
    "pipeline_integrity" ->
      s"""WITH d AS (SELECT doc_id AS id,
         |        CASE WHEN len(trim(text)) = 0 THEN 1 ELSE 0 END AS empty_text
         |      FROM documents WHERE doc_id % 7 <> 3),
         |v AS (SELECT vec_id AS id,
         |        CASE WHEN len(CASE WHEN vec_id % 13 = 2
         |                      THEN embedding[1:32] ELSE embedding END) <> 64
         |             THEN 1 ELSE 0 END AS bad_dim
         |      FROM embeddings WHERE vec_id % 11 <> 5)
         |SELECT CAST(count(d.id) AS BIGINT) AS n_docs,
         |  CAST(count(v.id) AS BIGINT) AS n_vecs,
         |  CAST(sum(CASE WHEN d.id IS NOT NULL AND v.id IS NULL
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_no_vec,
         |  CAST(sum(CASE WHEN v.id IS NOT NULL AND d.id IS NULL
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_vecs_no_doc,
         |  CAST(coalesce(sum(bad_dim), 0) AS BIGINT) AS n_bad_dim,
         |  CAST(coalesce(sum(empty_text), 0) AS BIGINT) AS n_empty_text
         |FROM d FULL JOIN v ON d.id = v.id""".stripMargin,
    // replays the WET chain straight from documents: the fixture's
    // payload bytes ARE these texts, so any byte bent by gzip/WARC
    // framing or the UTF-8 round-trip splits the md5 dedup groups
    "pipeline_wet_corpus" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0),
         |q AS (SELECT doc_id, text, CAST(len(text) AS BIGINT) AS n_chars
         |      FROM corpus WHERE len(text) >= 50),
         |k AS (SELECT md5(text) AS h, min(doc_id) AS doc_id,
         |             CAST(count(*) AS BIGINT) AS n_copies,
         |             min(n_chars) AS n_chars
         |      FROM q GROUP BY 1)
         |SELECT doc_id, n_copies, n_chars,
         |       ${h64("'graft:shard:' || doc_id::VARCHAR")} % 8 AS shard
         |FROM k""".stripMargin,
    // replays the tfrecord export's self-verification straight from
    // documents: any byte bent in Example encode/decode, varint
    // arithmetic, UTF-8, or CRC framing splits a fingerprint
    "pipeline_export_tfrecord" ->
      s"""WITH d AS (SELECT doc_id, lang, text,
         |        CAST(len(string_split($norm, ' ')) AS BIGINT) AS n_tokens
         |      FROM documents WHERE doc_id % 3 = 0)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(text)) AS BIGINT) AS n_chars,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id,
         |  bit_xor(${h64("doc_id::VARCHAR || ':' || md5(text)")})
         |    AS content_xor
         |FROM d GROUP BY 1""".stripMargin,
    // the tar-shard export held to the same manifest bar (no n_tokens
    // axis: the tar carries text+lang members only)
    "pipeline_export_webdataset" ->
      s"""WITH d AS (SELECT doc_id, lang, text
         |      FROM documents WHERE doc_id % 3 = 0)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(text)) AS BIGINT) AS n_chars,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id,
         |  bit_xor(${h64("doc_id::VARCHAR || ':' || md5(text)")})
         |    AS content_xor
         |FROM d GROUP BY 1""".stripMargin,
    // the float_list arm: float32 → packed wire → float32 must be
    // bit-identity, so the 1e-4-quantized fingerprints recompute
    // identically from the embeddings parquet
    "pipeline_export_wds_img" ->
      s"""WITH v AS (SELECT vec_id,
         |        list_transform(embedding,
         |          x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))
         |          AS qv
         |      FROM embeddings WHERE vec_id % 4 = 0),
         |j AS (SELECT vec_id,
         |        '{"vec_id":' || vec_id || ',"dim":' || len(qv) ||
         |          ',"qsum":' || CAST(coalesce(list_sum(qv), 0) AS BIGINT) ||
         |          '}' AS js
         |      FROM v)
         |SELECT vec_id % 8 AS bucket, CAST(count(*) AS BIGINT) AS n_samples,
         |  CAST(count(*) * 246 AS BIGINT) AS img_bytes,
         |  bit_xor(${h64("vec_id::VARCHAR || ':' || md5(js)")}) AS json_xor,
         |  CAST(0 AS BIGINT) AS n_img_mismatch
         |FROM j GROUP BY 1""".stripMargin,
    "pipeline_export_safetensors" -> embExportOracleSql,
    "pipeline_export_safetensors_half" ->
      s"""WITH src AS (SELECT vec_id, list_transform(embedding,
         |        x -> floor(CAST(x AS DOUBLE) * 256) / 256) AS e
         |      FROM embeddings WHERE vec_id % 2 = 1),
         |b AS (SELECT vec_id, e FROM src
         |      UNION ALL SELECT vec_id + 200000, e FROM src),
         |v AS (SELECT vec_id,
         |        list_transform(e, x -> CAST(floor(x * 10000) AS BIGINT)) AS qv,
         |        CAST(len(e) AS BIGINT) AS dim FROM b),
         |f AS (SELECT vec_id % 8 AS bucket, dim,
         |        CAST(coalesce(list_sum(qv), 0) AS BIGINT) AS qsum,
         |        ${h64("vec_id::VARCHAR || ':' || md5(array_to_string(qv, ','))")}
         |          AS fp
         |      FROM v)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(dim) AS BIGINT) AS dim_mass,
         |  CAST(sum(qsum) AS BIGINT) AS qsum_mass,
         |  bit_xor(fp) AS content_xor
         |FROM f GROUP BY 1""".stripMargin,
    "pipeline_export_embeddings" -> embExportOracleSql,
    "text_outlinks" ->
      s"""WITH h AS (SELECT doc_id,
         |  '<html><body><a href="https://m-' || lang || '.example/doc/' ||
         |    doc_id || '">m</a><p><a class="x" href="http://' || source ||
         |    '.example/?id=' || doc_id || '">s</a></p><a href="/local/' ||
         |    doc_id || '">l</a><a href="https://m-' || lang ||
         |    '.example/doc/' || doc_id || '#top">again</a></body></html>'
         |    AS html FROM documents),
         |l AS (SELECT doc_id AS doc,
         |        unnest(regexp_extract_all(html, '<a[^>]*href="([^"]*)"', 1)) AS href
         |      FROM h),
         |k AS (SELECT CASE WHEN regexp_matches(href, '^https?://')
         |               THEN regexp_extract(href, '^https?://([^/?#]+)', 1)
         |               ELSE '(relative)' END AS host, doc
         |      FROM l),
         |g AS (SELECT host, doc, CAST(count(*) AS BIGINT) AS l FROM k GROUP BY 1, 2)
         |SELECT host, CAST(sum(l) AS BIGINT) AS n_links,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM g GROUP BY 1""".stripMargin,
    "profile_freq" ->
      s"""WITH f AS (
         |  SELECT * FROM (
         |    SELECT 'event_type' AS col_name, event_type::VARCHAR AS value,
         |      CAST(count(*) AS BIGINT) AS n
         |    FROM events WHERE event_type IS NOT NULL
         |    GROUP BY 2 ORDER BY n DESC, value ASC LIMIT 5)
         |  UNION ALL
         |  SELECT * FROM (
         |    SELECT 'user_id' AS col_name, user_id::VARCHAR AS value,
         |      CAST(count(*) AS BIGINT) AS n
         |    FROM events WHERE user_id IS NOT NULL
         |    GROUP BY 2 ORDER BY n DESC, value ASC LIMIT 5))
         |SELECT col_name, value, n,
         |  CAST(row_number() OVER (PARTITION BY col_name
         |                          ORDER BY n DESC, value ASC) AS BIGINT) AS rank
         |FROM f""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0),
         |d AS (SELECT doc_id, len(text) AS q,
         |        md5(array_to_string(list_sort(list_distinct(string_split($norm, ' '))), ' ')) AS bag_hash
         |      FROM corpus)
         |SELECT bag_hash, keeper_id, n_members FROM (
         |  SELECT bag_hash, doc_id AS keeper_id,
         |    row_number() OVER (PARTITION BY bag_hash ORDER BY q DESC, doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY bag_hash) AS n_members
         |  FROM d) WHERE rn = 1""".stripMargin,
    "sample_token_budget" ->
      s"""WITH w AS (SELECT doc_id, lang, len(string_split($norm, ' ')) AS n_tokens
         |           FROM documents),
         |t AS (SELECT lang, sum(n_tokens) AS tot FROM w GROUP BY 1),
         |r AS (SELECT lang, least(1.0,
         |        CAST((CASE lang WHEN 'en' THEN 2000 WHEN 'de' THEN 1000
         |              ELSE 1500 END) AS DOUBLE) / CAST(tot AS DOUBLE)) AS rate
         |      FROM t)
         |SELECT doc_id, w.lang, n_tokens
         |FROM w JOIN r USING (lang)
         |WHERE ${h64("'graft:' || doc_id::VARCHAR")} % 10000 <
         |      CAST(floor(rate * 10000) AS BIGINT)""".stripMargin,
    "sample_mixture" ->
      s"""WITH w AS (SELECT doc_id, source, len(string_split($norm, ' ')) AS n_tokens
         |           FROM documents),
         |t AS (SELECT source, sum(n_tokens) AS tot FROM w GROUP BY 1),
         |wt AS (SELECT source, tot,
         |         CAST(CASE source WHEN 'src0' THEN 5 WHEN 'src1' THEN 3
         |              WHEN 'src2' THEN 12 ELSE 1 END AS BIGINT) AS wgt
         |       FROM t),
         |r AS (SELECT source, least(1.0,
         |        CAST(wgt AS DOUBLE) * 6000.0
         |          / CAST((SELECT sum(wgt) FROM wt) AS DOUBLE)
         |          / CAST(tot AS DOUBLE)) AS rate
         |      FROM wt)
         |SELECT doc_id, w.source, n_tokens
         |FROM w JOIN r USING (source)
         |WHERE ${h64("'graft:' || doc_id::VARCHAR")} % 10000 <
         |      CAST(floor(rate * 10000) AS BIGINT)""".stripMargin,
    "sample_epochs" ->
      s"""WITH w AS (SELECT source, len(string_split($norm, ' ')) AS nt
         |           FROM documents),
         |t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(nt) AS BIGINT) AS natural_tokens
         |      FROM w GROUP BY 1),
         |wt AS (SELECT *, CAST(CASE source WHEN 'src0' THEN 5 WHEN 'src1' THEN 3
         |             WHEN 'src2' THEN 12 ELSE 1 END AS BIGINT) AS wgt
         |       FROM t),
         |p AS (SELECT source, n_docs, natural_tokens,
         |        6000 * wgt // (SELECT sum(wgt) FROM wt) AS target_tokens
         |      FROM wt)
         |SELECT source, n_docs, natural_tokens,
         |  CAST(target_tokens AS BIGINT) AS target_tokens,
         |  CAST(CASE WHEN natural_tokens > 0
         |       THEN target_tokens * 1000000 // natural_tokens
         |       ELSE -1 END AS BIGINT) AS epochs_ppm,
         |  CASE WHEN natural_tokens = 0 THEN 1
         |       WHEN target_tokens * 1000000 // natural_tokens > 4000000
         |       THEN 1 ELSE 0 END AS over_cap
         |FROM p""".stripMargin,
    "sample_temperature" ->
      s"""WITH w AS (SELECT doc_id, source, len(string_split($norm, ' ')) AS n_tokens
         |           FROM documents),
         |t AS (SELECT source, sum(n_tokens) AS tot FROM w GROUP BY 1),
         |g AS (SELECT CAST(sum(tot) AS BIGINT) AS gt FROM t),
         |wt AS (SELECT source, tot,
         |         CAST(round(sqrt(CAST(tot AS DOUBLE) / CAST(g.gt AS DOUBLE)) * 1e6)
         |           AS BIGINT) AS wq
         |       FROM t, g),
         |r AS (SELECT source, least(1.0,
         |        CAST(wq AS DOUBLE) * 6000.0
         |          / CAST((SELECT sum(wq) FROM wt) AS DOUBLE)
         |          / CAST(tot AS DOUBLE)) AS rate
         |      FROM wt)
         |SELECT doc_id, w.source, CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM w JOIN r USING (source)
         |WHERE ${h64("'graft:' || doc_id::VARCHAR")} % 10000 <
         |      CAST(floor(rate * 10000) AS BIGINT)""".stripMargin,
    "sample_importance" ->
      s"""WITH nt AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
         |feats AS (
         |  SELECT doc_id, unnest(ws) AS feat FROM nt
         |  UNION ALL
         |  SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i+1 AS INT)] AS feat
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM nt)),
         |tm AS (SELECT doc_id, doc_id % 3 = 0 AND list_contains(ws, 'join') AS t
         |       FROM nt),
         |fb AS (SELECT fx.doc_id, t, ${h64("feat")} % 1024 AS f
         |       FROM feats fx JOIN tm USING (doc_id)),
         |cnt AS (SELECT f, count(*) FILTER (WHERE t) AS ct,
         |               count(*) FILTER (WHERE NOT t) AS cq
         |        FROM fb GROUP BY 1),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS bigt,
         |               CAST(sum(cq) AS BIGINT) AS bigq FROM cnt),
         |w AS (SELECT f, CAST(round(ln(
         |        (CAST(ct+1 AS DOUBLE) * CAST(bigq+1024 AS DOUBLE))
         |        / (CAST(cq+1 AS DOUBLE) * CAST(bigt+1024 AS DOUBLE))) * 1e6)
         |        AS BIGINT) AS wt
         |      FROM cnt, tot)
         |SELECT fb.doc_id, CAST(sum(wt) AS BIGINT) AS score
         |FROM fb JOIN w USING (f) WHERE NOT t
         |GROUP BY 1 HAVING CAST(sum(wt) AS BIGINT) > 0""".stripMargin,
    "dedup_lines" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0),
         |w AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM corpus),
         |seg AS (SELECT doc_id, unnest(range(CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS i, ws
         |        FROM w),
         |ls AS (SELECT doc_id, i AS line_no,
         |         array_to_string(list_slice(ws, CAST(i*8+1 AS INT), CAST(i*8+8 AS INT)), ' ') AS line
         |       FROM seg),
         |nz AS (SELECT * FROM ls WHERE len(trim(line)) > 0),
         |cnt AS (SELECT md5(line) AS lh, count(*) AS c FROM nz GROUP BY 1),
         |kept AS (SELECT nz.doc_id, nz.line_no, nz.line
         |         FROM nz JOIN cnt ON md5(nz.line) = cnt.lh WHERE cnt.c <= 1)
         |SELECT doc_id,
         |       array_to_string(list(line ORDER BY line_no), chr(10)) AS clean_text,
         |       count(*) AS n_lines_kept
         |FROM kept GROUP BY doc_id""".stripMargin,
    "dedup_spans" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0),
         |w AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM corpus),
         |win AS (SELECT doc_id, unnest(range(len(ws) - 7)) AS s, ws
         |        FROM w WHERE len(ws) >= 8),
         |wh AS (SELECT doc_id, s,
         |         md5(array_to_string(list_slice(ws, CAST(s+1 AS INT), CAST(s+8 AS INT)), ' ')) AS h
         |       FROM win),
         |cnt AS (SELECT h, count(*) AS c FROM wh GROUP BY 1),
         |bad AS (SELECT wh.doc_id, wh.s FROM wh JOIN cnt USING (h) WHERE cnt.c > 1),
         |cov AS (SELECT DISTINCT doc_id, p FROM
         |          (SELECT doc_id, unnest(range(s, s + 8)) AS p FROM bad)),
         |pos AS (SELECT doc_id, unnest(range(len(ws))) AS p, ws FROM w),
         |kept AS (SELECT pos.doc_id, pos.p, pos.ws[CAST(pos.p + 1 AS INT)] AS tok
         |         FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
         |         WHERE cov.p IS NULL)
         |SELECT doc_id,
         |       array_to_string(list(tok ORDER BY p), ' ') AS clean_text,
         |       count(*) AS n_tokens_kept
         |FROM kept GROUP BY doc_id""".stripMargin,
    "text_kl_drift" ->
      s"""WITH t AS (SELECT source, unnest(string_split($norm, ' ')) AS tok
         |           FROM documents),
         |cst AS (SELECT source, tok, count(*) AS cst FROM t GROUP BY 1, 2),
         |ct AS (SELECT tok, CAST(sum(cst) AS BIGINT) AS ct FROM cst GROUP BY 1),
         |ns AS (SELECT source, CAST(sum(cst) AS BIGINT) AS ns FROM cst GROUP BY 1),
         |n AS (SELECT CAST(sum(ns) AS BIGINT) AS n FROM ns),
         |q AS (SELECT cst.source, cst.cst,
         |        CAST(round(ln(CAST(cst.cst AS DOUBLE) * CAST(n.n AS DOUBLE)
         |          / (CAST(ct.ct AS DOUBLE) * CAST(ns.ns AS DOUBLE))) * 1e6) AS BIGINT) AS q
         |      FROM cst JOIN ct USING (tok) JOIN ns USING (source), n)
         |SELECT source, CAST(sum(cst) AS BIGINT) AS n_tokens,
         |       CAST(sum(cst * q) AS BIGINT) AS kl_micro
         |FROM q GROUP BY 1""".stripMargin,
    "sample_shard" ->
      s"""WITH k AS (SELECT doc_id, source,
         |             ${h64("'graft:shard:' || doc_id::VARCHAR")} AS k
         |           FROM documents)
         |SELECT doc_id, source, k % 8 AS shard,
         |       row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) - 1 AS pos
         |FROM k""".stripMargin,
    "sample_curriculum" ->
      s"""WITH s AS (SELECT doc_id,
         |        (CAST(len(replace(nt, ' ', '')) AS BIGINT) * 1000000)
         |          // len(string_split(nt, ' ')) AS score_micro
         |      FROM (SELECT doc_id, $norm AS nt FROM documents)),
         |b AS (SELECT doc_id, score_micro,
         |        least(4, score_micro // 2000000) AS band,
         |        ${h64("'graft:curr:' || doc_id::VARCHAR")} AS k
         |      FROM s)
         |SELECT doc_id, CAST(band AS BIGINT) AS band, score_micro,
         |  CAST(row_number() OVER (PARTITION BY band ORDER BY k, doc_id) - 1
         |    AS BIGINT) AS pos
         |FROM b""".stripMargin,
    "sample_split" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 300000, text FROM documents WHERE doc_id % 50 = 0),
         |b AS (SELECT CASE WHEN bucket < 100 THEN 'test'
         |             WHEN bucket < 600 THEN 'val' ELSE 'train' END AS split,
         |        md5($norm) AS content_hash, length(text)::BIGINT AS n_chars
         |      FROM (SELECT doc_id, text,
         |              ${h64("'split:' || doc_id::VARCHAR")} % 10000 AS bucket
         |            FROM corpus)),
         |phs AS (SELECT content_hash, split, count(*) AS n, sum(n_chars) AS chars
         |        FROM b GROUP BY 1, 2),
         |x AS (SELECT content_hash FROM phs GROUP BY 1 HAVING count(*) > 1),
         |leak AS (SELECT split, CAST(sum(n) AS BIGINT) AS n_leak_docs
         |         FROM phs JOIN x USING (content_hash) GROUP BY 1),
         |tot AS (SELECT split, CAST(sum(n) AS BIGINT) AS n_docs,
         |          CAST(sum(chars) AS BIGINT) AS n_chars
         |        FROM phs GROUP BY 1)
         |SELECT t.split, t.n_docs, t.n_chars,
         |  COALESCE(l.n_leak_docs, 0)::BIGINT AS n_leak_docs
         |FROM tot t LEFT JOIN leak l USING (split)""".stripMargin,
    "text_pii" ->
      s"""WITH aug AS (SELECT source, text
         |  || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id::VARCHAR
         |          || '@example.com' ELSE '' END
         |  || CASE WHEN doc_id % 11 = 0 THEN ' host 10.' || (doc_id % 256)::VARCHAR
         |          || '.7.' || (doc_id % 250)::VARCHAR ELSE '' END
         |  || CASE WHEN doc_id % 13 = 0 THEN ' call 415-555-'
         |          || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
         |  || CASE WHEN doc_id % 17 = 0 THEN ' ref '
         |          || lpad((doc_id % 100000)::VARCHAR, 9, '0') ELSE '' END AS t
         |  FROM documents),
         |d AS (SELECT source, length(t)::BIGINT AS c,
         |        len(regexp_extract_all(t, '${TextAnalysis.emailRe}'))::BIGINT AS e,
         |        len(regexp_extract_all(t, '${TextAnalysis.ipRe}'))::BIGINT AS i,
         |        len(regexp_extract_all(t, '${TextAnalysis.phoneRe}'))::BIGINT AS p,
         |        len(regexp_extract_all(t, '${TextAnalysis.numRe}'))::BIGINT AS q
         |      FROM aug)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  CAST(sum(CASE WHEN e + i + p + q > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs_pii,
         |  CAST(sum(e) AS BIGINT) AS n_emails, CAST(sum(i) AS BIGINT) AS n_ips,
         |  CAST(sum(p) AS BIGINT) AS n_phones, CAST(sum(q) AS BIGINT) AS n_idnums,
         |  (CAST(sum(e + i + p + q) AS BIGINT) * 1000000)
         |    // CAST(sum(c) AS BIGINT) AS hits_per_mchar
         |FROM d GROUP BY 1""".stripMargin,
    "dedup_incremental_lsh" ->
      s"""WITH corpus AS (SELECT doc_id AS id, $norm AS t FROM documents),
         |batch AS (
         |  SELECT doc_id + 500000 AS id,
         |    lower(trim(regexp_replace(text || ' graftbatch extra token',
         |      '\\s+', ' ', 'g'))) AS t
         |  FROM documents WHERE doc_id % 25 = 0
         |  UNION ALL
         |  SELECT doc_id + 700000,
         |    'nova ' || md5(doc_id::VARCHAR) || ' ' || md5((doc_id * 7)::VARCHAR)
         |  FROM documents WHERE doc_id % 40 = 0),
         |uni AS (SELECT 'c' AS side, id, t FROM corpus
         |        UNION ALL SELECT 'b', id, t FROM batch),
         |toks AS (SELECT DISTINCT side, id, unnest(string_split(t, ' ')) AS tok
         |         FROM uni),
         |seeds AS (SELECT j, ${h64("'a:' || j::VARCHAR")} % 1073741824 AS aj,
         |                 ${h64("'b:' || j::VARCHAR")} % 1073741824 AS bj
         |          FROM range(16) s(j)),
         |mh AS (SELECT side, id, j,
         |         min((aj * (${h64("tok")} % 1073741824) + bj) % 2147483647) AS h
         |       FROM toks, seeds GROUP BY 1, 2, 3),
         |bands AS (SELECT side, id, j // 8 AS band, sum(h)::BIGINT AS sig
         |          FROM mh GROUP BY side, id, j // 8),
         |cands AS (SELECT DISTINCT b.id AS batch_id, c.id AS match_id
         |          FROM bands b JOIN bands c
         |            ON b.band = c.band AND b.sig = c.sig
         |          WHERE b.side = 'b' AND c.side = 'c'),
         |toksh AS (SELECT DISTINCT side, id, ${h64("tok")} AS h FROM toks),
         |sizes AS (SELECT side, id, count(*) AS n FROM toksh GROUP BY 1, 2),
         |inter AS (SELECT c.batch_id, c.match_id, count(*) AS i
         |          FROM cands c
         |          JOIN toksh tb ON tb.side = 'b' AND tb.id = c.batch_id
         |          JOIN toksh tc ON tc.side = 'c' AND tc.id = c.match_id
         |            AND tc.h = tb.h
         |          GROUP BY 1, 2),
         |jac AS (SELECT i.batch_id, i.match_id,
         |          CAST(i.i AS DOUBLE) / (sb.n + sc.n - i.i) AS j
         |        FROM inter i
         |        JOIN sizes sb ON sb.side = 'b' AND sb.id = i.batch_id
         |        JOIN sizes sc ON sc.side = 'c' AND sc.id = i.match_id)
         |SELECT batch_id, match_id, round(j, 6) AS jaccard FROM (
         |  SELECT batch_id, match_id, j,
         |    row_number() OVER (PARTITION BY batch_id
         |      ORDER BY j DESC, match_id ASC) AS rn
         |  FROM jac WHERE j >= $JAC_T)
         |WHERE rn = 1""".stripMargin,
    "unigram_init" ->
      s"""WITH w AS (SELECT unnest(string_split($norm, ' ')) AS word
         |           FROM documents),
         |wf AS (SELECT word, count(*)::BIGINT AS freq FROM w
         |       WHERE length(word) > 0 GROUP BY 1),
         |e1 AS (SELECT word, freq,
         |         unnest(range(1, length(word) + 1)) AS i FROM wf),
         |e2 AS (SELECT word, freq, i,
         |         unnest(range(i, least(length(word), i + 5) + 1)) AS j
         |       FROM e1),
         |subs AS (SELECT substr(word, CAST(i AS INT),
         |                  CAST(j - i + 1 AS INT)) AS piece,
         |           CAST(sum(freq) AS BIGINT) AS cnt
         |         FROM e2 GROUP BY 1),
         |s AS (SELECT piece, cnt FROM subs WHERE length(piece) = 1),
         |m AS (SELECT piece, cnt FROM (
         |        SELECT piece, cnt, row_number() OVER
         |          (ORDER BY cnt DESC, piece ASC) AS r
         |        FROM subs WHERE length(piece) > 1) x,
         |        (SELECT count(*) AS ns FROM s) t
         |      WHERE x.r <= 256 - t.ns)
         |SELECT piece, cnt FROM s UNION ALL SELECT piece, cnt FROM m""".stripMargin,
    "profile_diff" ->
      s"""WITH cur AS (SELECT
         |    CASE WHEN l_orderkey % 7 = 0 THEN l_quantity + 5
         |         ELSE l_quantity END AS l_quantity,
         |    l_extendedprice, l_discount,
         |    CASE WHEN l_orderkey % 13 = 0 THEN NULL ELSE l_tax END AS l_tax
         |  FROM lineitem),
         |sc AS (${diffSide("cur")}),
         |sr AS (${diffSide("lineitem")})
         |SELECT sc.col_name, sr.n AS n_ref, sc.n AS n_cur,
         |  sr.null_ppm AS null_ppm_ref, sc.null_ppm AS null_ppm_cur,
         |  sr.mean_milli AS mean_milli_ref, sc.mean_milli AS mean_milli_cur,
         |  CASE WHEN abs(sc.mean_milli - sr.mean_milli) > 500
         |       THEN 1 ELSE 0 END AS mean_drift,
         |  CASE WHEN abs(sc.null_ppm - sr.null_ppm) > 10000
         |       THEN 1 ELSE 0 END AS null_drift
         |FROM sc JOIN sr USING (col_name)""".stripMargin,
    "pipeline_semantic_corpus" ->
      s"""WITH $qPrep,
         |v AS (SELECT vec_id FROM embeddings
         |      WHERE embedding IS NOT NULL AND len(embedding) = 64),
         |dots AS (SELECT n.vec_id, p,
         |           list_sum(list_transform(n.qv, (x, i) ->
         |             x * (${h64("'42' || ':' || p::VARCHAR || ':' || i::VARCHAR")} % 2001 - 1000))) AS dot
         |         FROM n JOIN v USING (vec_id), range(8) t(p)),
         |bk AS (SELECT vec_id,
         |         sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
         |       FROM dots GROUP BY 1),
         |nb AS (SELECT n.vec_id, n.qv, n.n2, bk.bucket
         |       FROM n JOIN bk USING (vec_id)),
         |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |       FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |       WHERE CAST(list_sum(list_transform(list_zip(a.qv, b.qv), x -> x[1] * x[2])) AS DOUBLE)
         |             / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= $COS_T),
         |drop0 AS (
         |  SELECT id_b AS doc_id FROM pr
         |  WHERE id_a % 100 <> 0 AND id_b % 100 <> 0
         |  UNION SELECT id_b FROM pr WHERE id_a % 100 = 0
         |  UNION SELECT id_a FROM pr WHERE id_b % 100 = 0),
         |surv AS (SELECT d.doc_id, d.text FROM documents d
         |         JOIN v ON v.vec_id = d.doc_id
         |         WHERE d.doc_id % 100 <> 0
         |           AND d.doc_id NOT IN (SELECT doc_id FROM drop0)),
         |k AS (SELECT doc_id, text,
         |        ${h64("'graft:shard:' || doc_id::VARCHAR")} AS k
         |      FROM surv)
         |SELECT k % 4 AS shard, count(*)::BIGINT AS n_docs,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id,
         |  bit_xor(${h64("doc_id::VARCHAR || ':' || md5(" +
                "lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))")})
         |    AS content_xor
         |FROM k GROUP BY 1""".stripMargin,
    "pipeline_release_corpus" ->
      s"""WITH c AS (SELECT doc_id, text, $norm AS nt FROM documents),
         |r AS (SELECT doc_id FROM (
         |        SELECT doc_id,
         |          len(string_split(nt, ' '))::BIGINT AS w,
         |          greatest(len(regexp_extract_all(nt, '[.!?]+')), 1)::BIGINT AS s,
         |          len(regexp_extract_all(nt, '[aeiouy]+'))::BIGINT AS y
         |        FROM c)
         |      WHERE w >= 10
         |        AND 206835 - (1015 * w) // s - (84600 * y) // w >= 0),
         |k AS (SELECT c.doc_id, c.text, c.nt,
         |        CASE WHEN bucket < 100 THEN 'test'
         |             WHEN bucket < 600 THEN 'val' ELSE 'train' END AS split,
         |        ${h64("'graft:shard:' || c.doc_id::VARCHAR")} % 4 AS shard
         |      FROM c JOIN r USING (doc_id),
         |      LATERAL (SELECT ${h64("'split:' || c.doc_id::VARCHAR")} % 10000
         |               AS bucket) b)
         |SELECT split, shard, count(*)::BIGINT AS n_docs,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id,
         |  bit_xor(${h64("doc_id::VARCHAR || ':' || md5(nt)")}) AS content_xor
         |FROM k GROUP BY 1, 2""".stripMargin,
    "shard_rebalance" ->
      s"""WITH m AS (SELECT least(doc_id % 13, 7) AS s,
         |        CAST(sum(length(text)) AS BIGINT) AS w
         |      FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(sum(w) AS BIGINT) AS total,
         |        CAST(count(*) AS BIGINT) AS n FROM m),
         |t AS (SELECT s, w - (total // n
         |        + CASE WHEN CAST(row_number() OVER (ORDER BY s) AS BIGINT) - 1
         |                    < total % n THEN 1 ELSE 0 END) AS delta
         |      FROM m, tot),
         |d AS (SELECT s AS ds, delta AS dd,
         |        coalesce(sum(delta) OVER (ORDER BY s
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS dstart
         |      FROM t WHERE delta > 0),
         |r AS (SELECT s AS rs, -delta AS rn,
         |        coalesce(sum(-delta) OVER (ORDER BY s
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS rstart
         |      FROM t WHERE delta < 0)
         |SELECT ds AS from_shard, rs AS to_shard,
         |  CAST(least(dstart + dd, rstart + rn)
         |       - greatest(dstart, rstart) AS BIGINT) AS moved
         |FROM d JOIN r ON dstart < rstart + rn AND rstart < dstart + dd""".stripMargin,
    "shard_manifest" ->
      s"""WITH k AS (SELECT doc_id, text,
         |             ${h64("'graft:shard:' || doc_id::VARCHAR")} AS k
         |           FROM documents)
         |SELECT k % 8 AS shard, count(*)::BIGINT AS n_docs,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id,
         |  bit_xor(${h64("doc_id::VARCHAR || ':' || md5(" +
                  "lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))")})
         |    AS content_xor
         |FROM k GROUP BY 1""".stripMargin,
    "emb_drift" ->
      s"""WITH re AS (SELECT unnest(range(64)) AS i, embedding AS v
         |        FROM embeddings WHERE vec_id % 2 = 0),
         |rq AS (SELECT 'ref' AS side, i,
         |         CAST(floor(CAST(v[CAST(i + 1 AS INT)] AS DOUBLE) * 10000)
         |           AS BIGINT) AS q FROM re),
         |ce AS (SELECT unnest(range(64)) AS i, embedding AS v
         |        FROM embeddings WHERE vec_id % 2 = 1),
         |cq AS (SELECT 'cur' AS side, i,
         |         CAST(floor((CAST(v[CAST(i + 1 AS INT)] AS DOUBLE)
         |           + CASE WHEN i = 3 THEN 0.5 ELSE 0 END) * 10000)
         |           AS BIGINT) AS q FROM ce),
         |u AS (SELECT * FROM rq UNION ALL SELECT * FROM cq),
         |a AS (SELECT i,
         |        CAST(sum(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         |        CAST(sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur,
         |        CAST(sum(CASE WHEN side = 'ref' THEN q ELSE 0 END) AS BIGINT) AS s_ref,
         |        CAST(sum(CASE WHEN side = 'cur' THEN q ELSE 0 END) AS BIGINT) AS s_cur,
         |        CAST(sum(CASE WHEN side = 'ref' THEN q * q ELSE 0 END) AS BIGINT) AS ss_ref,
         |        CAST(sum(CASE WHEN side = 'cur' THEN q * q ELSE 0 END) AS BIGINT) AS ss_cur
         |      FROM u GROUP BY 1),
         |m AS (SELECT i AS dim_i, n_ref, n_cur,
         |        CAST((s_ref * 100) // greatest(n_ref, 1) AS BIGINT) AS mean_ref_micro,
         |        CAST((s_cur * 100) // greatest(n_cur, 1) AS BIGINT) AS mean_cur_micro,
         |        CAST(ss_ref // greatest(n_ref, 1) AS BIGINT) AS msq_ref_e8,
         |        CAST(ss_cur // greatest(n_cur, 1) AS BIGINT) AS msq_cur_e8
         |      FROM a)
         |SELECT *, abs(mean_ref_micro - mean_cur_micro) AS delta_micro,
         |  CASE WHEN abs(mean_ref_micro - mean_cur_micro) > 250000
         |       THEN 1 ELSE 0 END AS drifted
         |FROM m""".stripMargin,
    "emb_outliers" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
         |         x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |       FROM embeddings
         |       WHERE embedding IS NOT NULL AND len(embedding) = 64),
         |st AS (SELECT CAST((SELECT count(*) FROM q) AS BIGINT) AS n,
         |         list(s ORDER BY i) AS sv, list(g ORDER BY i) AS gv
         |       FROM (SELECT i, CAST(sum(qi) AS BIGINT) AS s,
         |               CAST(sum(qi * qi) AS BIGINT) AS g
         |             FROM (SELECT unnest(qv) AS qi,
         |                     unnest(range(0, len(qv))) AS i FROM q)
         |             GROUP BY i)),
         |sc AS (SELECT vec_id,
         |         CAST(list_sum(list_transform(range(0, 64), i ->
         |           CASE WHEN (n * gv[i + 1] - sv[i + 1] * sv[i + 1]) // (n * n) > 0
         |             THEN ((qv[i + 1] - (sv[i + 1] // n))
         |                   * (qv[i + 1] - (sv[i + 1] // n)) * 1000000)
         |               // ((n * gv[i + 1] - sv[i + 1] * sv[i + 1]) // (n * n))
         |             ELSE 0 END)) AS BIGINT) AS score_micro
         |       FROM q, st)
         |SELECT vec_id, score_micro FROM sc
         |ORDER BY score_micro DESC, vec_id ASC LIMIT 25""".stripMargin,
    "emb_gram" ->
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
         |         x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |       FROM embeddings
         |       WHERE embedding IS NOT NULL AND len(embedding) = 64),
         |a AS (SELECT vec_id, unnest(qv) AS qi,
         |        unnest(range(0, len(qv))) AS i FROM q),
         |sec AS (SELECT CAST(x.i AS BIGINT) AS i, CAST(y.i AS BIGINT) AS j,
         |          CAST(sum(x.qi * y.qi) AS BIGINT) AS g
         |        FROM a x JOIN a y ON x.vec_id = y.vec_id AND y.i >= x.i
         |        GROUP BY 1, 2),
         |fst AS (SELECT CAST(i AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j,
         |          CAST(sum(qi) AS BIGINT) AS g
         |        FROM a GROUP BY 1),
         |cnt AS (SELECT CAST(-1 AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j,
         |          count(*)::BIGINT AS g FROM q)
         |SELECT * FROM sec UNION ALL SELECT * FROM fst
         |UNION ALL SELECT * FROM cnt""".stripMargin,
    // MMD sufficient statistics via the gram factorization: per-group
    // upper-triangle gram, full-join contraction with off-diagonal
    // weight 2, HUGEINT-exact sums emitted as digit strings
    "emb_mmd" ->
      s"""WITH q AS (SELECT vec_id, vec_id % 2 AS grp, list_transform(embedding,
         |         x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
         |       FROM embeddings
         |       WHERE embedding IS NOT NULL AND len(embedding) = 64),
         |a AS (SELECT grp, vec_id, unnest(qv) AS qi,
         |        unnest(range(0, len(qv))) AS i FROM q),
         |gr AS (SELECT x.grp, CAST(x.i AS BIGINT) AS i,
         |          CAST(y.i AS BIGINT) AS j,
         |          CAST(sum(x.qi * y.qi) AS HUGEINT) AS g
         |        FROM a x JOIN a y ON x.vec_id = y.vec_id AND y.i >= x.i
         |        GROUP BY 1, 2, 3),
         |gx AS (SELECT i, j, g AS gxv FROM gr WHERE grp = 0),
         |gy AS (SELECT i, j, g AS gyv FROM gr WHERE grp = 1),
         |ct AS (SELECT CASE WHEN i = j THEN 1 ELSE 2 END AS w,
         |         coalesce(gxv, 0::HUGEINT) AS dx,
         |         coalesce(gyv, 0::HUGEINT) AS dy
         |       FROM gx FULL JOIN gy USING (i, j)),
         |s AS (SELECT sum(w * dx * dx) AS sxx, sum(w * dx * dy) AS sxy,
         |        sum(w * dy * dy) AS syy FROM ct),
         |n AS (SELECT CAST(sum(CASE WHEN grp = 0 THEN 1 END) AS BIGINT) AS n_x,
         |        CAST(sum(CASE WHEN grp = 1 THEN 1 END) AS BIGINT) AS n_y
         |      FROM q)
         |SELECT n.n_x, n.n_y,
         |  CAST(CAST(s.sxx AS DECIMAL(38,0)) AS VARCHAR) AS sxx,
         |  CAST(CAST(s.sxy AS DECIMAL(38,0)) AS VARCHAR) AS sxy,
         |  CAST(CAST(s.syy AS DECIMAL(38,0)) AS VARCHAR) AS syy
         |FROM n, s""".stripMargin,
    "profile_table" ->
      s"""WITH d AS (SELECT doc_id, text,
         |             CASE WHEN doc_id % 97 = 0 THEN NULL ELSE lang END AS lang,
         |             source, n_chars FROM documents),
         |s AS (SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS val FROM d
         |      UNION ALL SELECT 'text', text FROM d
         |      UNION ALL SELECT 'lang', lang FROM d
         |      UNION ALL SELECT 'source', source FROM d
         |      UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM d),
         |g AS (SELECT col_name, md5(val) AS h, count(*) AS cnt,
         |             min(substr(val, 1, 64)) AS vmin,
         |             max(substr(val, 1, 64)) AS vmax
         |      FROM s GROUP BY 1, 2)
         |SELECT col_name, CAST(sum(cnt) AS BIGINT) AS n_rows,
         |       CAST(coalesce(sum(CASE WHEN h IS NULL THEN cnt END), 0) AS BIGINT)
         |         AS n_nulls,
         |       count(h) AS n_distinct,
         |       min(vmin) AS min_prefix, max(vmax) AS max_prefix
         |FROM g GROUP BY 1""".stripMargin,
    "profile_histogram" ->
      s"""WITH s AS (
         |  SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS v FROM lineitem
         |  UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
         |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
         |  UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem),
         |sn AS (SELECT * FROM s WHERE v IS NOT NULL),
         |mm AS (SELECT col_name, min(v) AS mn, max(v) AS mx FROM sn GROUP BY 1)
         |SELECT sn.col_name,
         |       CAST(CASE WHEN mm.mx > mm.mn
         |         THEN least(15, CAST(floor((sn.v - mm.mn) * 16 / (mm.mx - mm.mn)) AS BIGINT))
         |         ELSE 0 END AS BIGINT) AS bin,
         |       CAST(count(*) AS BIGINT) AS n_rows
         |FROM sn JOIN mm USING (col_name) GROUP BY 1, 2""".stripMargin,
    "profile_corr" -> corrOracle(
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    "emb_quantize" ->
      s"""WITH v AS (SELECT vec_id, embedding AS v,
         |        list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
         |          AS amax
         |      FROM embeddings WHERE embedding IS NOT NULL),
         |e AS (SELECT vec_id, unnest(generate_series(1, len(v))) AS j, v, amax
         |      FROM v)
         |SELECT vec_id, CAST(j AS BIGINT) AS j,
         |  CAST(CASE WHEN amax > 0
         |       THEN round(CAST(v[CAST(j AS INT)] AS DOUBLE) * 127 / amax)
         |       ELSE 0 END AS INT) AS code,
         |  CAST(round(amax * 1e6) AS BIGINT) AS scale_micro
         |FROM e""".stripMargin,
    "profile_embeddings" ->
      s"""WITH b AS (SELECT embedding AS v,
         |        (embedding IS NOT NULL AND len(embedding) = 64) AS ok
         |      FROM embeddings),
         |q AS (SELECT v, ok, CASE WHEN ok THEN list_transform(v,
         |        x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) END AS qv
         |      FROM b),
         |n AS (SELECT v, ok, CASE WHEN ok
         |        THEN list_sum(list_transform(qv, x -> x * x)) END AS n2
         |      FROM q),
         |c AS (SELECT n2, CAST(count(*) AS BIGINT) AS cnt
         |      FROM n WHERE n2 IS NOT NULL GROUP BY 1),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS m FROM c),
         |w AS (SELECT n2, CAST(sum(cnt) OVER (ORDER BY n2) AS BIGINT) AS cum, m
         |      FROM c, t),
         |qs AS (SELECT
         |    CAST(min(CASE WHEN cum >= (m - 1) // 2 + 1 THEN n2 END)
         |      AS BIGINT) AS n2_p50,
         |    CAST(min(CASE WHEN cum >= ((m - 1) * 19) // 20 + 1 THEN n2 END)
         |      AS BIGINT) AS n2_p95
         |  FROM w),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(sum(CASE WHEN v IS NOT NULL AND len(v) <> 64 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_bad_dim,
         |  CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         |  CAST(sum(n2) AS BIGINT) AS sum_n2
         |FROM n)
         |SELECT s.n_vecs, s.n_null, s.n_bad_dim, s.n_zero,
         |  qs.n2_p50, qs.n2_p95, s.sum_n2 FROM s, qs""".stripMargin,
    "text_winnow" ->
      s"""WITH d AS (SELECT doc_id, $norm AS nt FROM documents),
         |g AS (SELECT doc_id, nt FROM d WHERE len(nt) >= 11),
         |hs AS (SELECT doc_id, list_transform(generate_series(0, len(nt) - 8),
         |         i -> ${h64("substr(nt, CAST(i + 1 AS INT), 8)")}) AS hl
         |       FROM g)
         |SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(0, len(hl) - 4),
         |    j -> list_min(hl[CAST(j + 1 AS INT):CAST(j + 4 AS INT)])))) AS fp
         |FROM hs""".stripMargin,
    "dedup_winnow" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 100 = 0),
         |d AS (SELECT doc_id, $norm AS nt FROM corpus),
         |g AS (SELECT doc_id, nt FROM d WHERE len(nt) >= 11),
         |hs AS (SELECT doc_id, list_transform(generate_series(0, len(nt) - 8),
         |         i -> ${h64("substr(nt, CAST(i + 1 AS INT), 8)")}) AS hl
         |       FROM g),
         |fp AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |         generate_series(0, len(hl) - 4),
         |         j -> list_min(hl[CAST(j + 1 AS INT):CAST(j + 4 AS INT)])))) AS fp
         |       FROM hs),
         |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fp GROUP BY 1)
         |         WHERE df <= 100),
         |rf AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(count(*) AS BIGINT) AS n_shared
         |FROM rf a JOIN rf b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 10""".stripMargin,
    "dedup_winnow_containment" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 100 = 0),
         |d AS (SELECT doc_id, $norm AS nt FROM corpus),
         |g AS (SELECT doc_id, nt FROM d WHERE len(nt) >= 11),
         |hs AS (SELECT doc_id, list_transform(generate_series(0, len(nt) - 8),
         |         i -> ${h64("substr(nt, CAST(i + 1 AS INT), 8)")}) AS hl
         |       FROM g),
         |fp AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |         generate_series(0, len(hl) - 4),
         |         j -> list_min(hl[CAST(j + 1 AS INT):CAST(j + 4 AS INT)])))) AS fp
         |       FROM hs),
         |cnt AS (SELECT doc_id, count(*) AS n FROM fp GROUP BY 1),
         |dfx AS (SELECT fp, count(*) AS df FROM fp GROUP BY 1),
         |rf AS (SELECT f.doc_id, f.fp FROM fp f
         |       JOIN (SELECT fp FROM dfx WHERE df <= 100) r USING (fp)),
         |cap AS (SELECT f.doc_id, count(*) AS nc FROM fp f
         |        JOIN (SELECT fp FROM dfx WHERE df > 100) h USING (fp)
         |        GROUP BY 1),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(count(*) AS BIGINT) AS n_shared
         |       FROM rf a JOIN rf b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2 HAVING count(*) >= 10)
         |SELECT id_a, id_b, n_shared,
         |  CAST(ca.n AS BIGINT) AS n_fp_a, CAST(cb.n AS BIGINT) AS n_fp_b,
         |  CAST(coalesce(ka.nc, 0) AS BIGINT) AS n_capped_a,
         |  CAST(coalesce(kb.nc, 0) AS BIGINT) AS n_capped_b,
         |  CAST((n_shared * 1000000) // ca.n AS BIGINT) AS cont_a_ppm,
         |  CAST((n_shared * 1000000) // cb.n AS BIGINT) AS cont_b_ppm
         |FROM pr JOIN cnt ca ON ca.doc_id = pr.id_a
         |        JOIN cnt cb ON cb.doc_id = pr.id_b
         |        LEFT JOIN cap ka ON ka.doc_id = pr.id_a
         |        LEFT JOIN cap kb ON kb.doc_id = pr.id_b""".stripMargin,
    // winnow pairs replayed as in dedup_winnow, then the connected
    // components via a recursive reachability CTE (cluster = min id
    // reachable over the undirected pair graph — exactly what
    // connectedComponents returns), then the keeper anti-join
    "pipeline_winnow_corpus" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT doc_id, lang, n_chars, text FROM documents WHERE doc_id % 20 = 0
         |  UNION ALL
         |  SELECT doc_id + 100000, lang, n_chars, text FROM documents
         |  WHERE doc_id % 100 = 0),
         |d AS (SELECT doc_id, $norm AS nt FROM corpus),
         |g AS (SELECT doc_id, nt FROM d WHERE len(nt) >= 11),
         |hs AS (SELECT doc_id, list_transform(generate_series(0, len(nt) - 8),
         |         i -> ${h64("substr(nt, CAST(i + 1 AS INT), 8)")}) AS hl
         |       FROM g),
         |fp AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |         generate_series(0, len(hl) - 4),
         |         j -> list_min(hl[CAST(j + 1 AS INT):CAST(j + 4 AS INT)])))) AS fp
         |       FROM hs),
         |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fp GROUP BY 1)
         |         WHERE df <= 100),
         |rf AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp)),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |       FROM rf a JOIN rf b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2 HAVING count(*) >= 10),
         |edges AS (SELECT id_a AS u, id_b AS v FROM pr
         |          UNION SELECT id_b, id_a FROM pr),
         |reach AS (SELECT u AS id, u AS m FROM edges
         |          UNION
         |          SELECT e.v, r.m FROM reach r JOIN edges e ON e.u = r.id),
         |lab AS (SELECT id, min(m) AS cluster FROM reach GROUP BY id)
         |SELECT c.doc_id, c.lang, c.n_chars FROM corpus c
         |WHERE c.doc_id NOT IN (SELECT id FROM lab WHERE id <> cluster)""".stripMargin,
    // list_filter strips the phantom ''-char divergence (Spark split
    // keeps a trailing empty element, DuckDB does not); both engines
    // then quantize ln(n/cnt) identically (round-half-up, <=1 ulp —
    // the sample_importance convention)
    "text_entropy" ->
      s"""WITH d AS (SELECT doc_id,
         |             list_filter(string_split($norm, ''), x -> x <> '') AS cs
         |           FROM documents),
         |c AS (SELECT doc_id, len(cs) AS n, unnest(cs) AS ch
         |      FROM d WHERE len(cs) > 0),
         |g AS (SELECT doc_id, n, ch, count(*) AS cnt FROM c GROUP BY 1, 2, 3),
         |e AS (SELECT doc_id, n, sum(cnt * CAST(round(
         |         ln(n / CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT)) AS ent
         |      FROM g GROUP BY 1, 2)
         |SELECT doc_id, CAST(n AS INT) AS n_chars, CAST(ent AS BIGINT) AS ent_micro
         |FROM e
         |UNION ALL
         |SELECT doc_id, CAST(0 AS INT), CAST(0 AS BIGINT)
         |FROM d WHERE len(cs) = 0""".stripMargin,
    // cap rank replay (sample_group_cap's oracle rule at k=5) feeding
    // the stub-arithmetic checksum: the config-driven composition
    // replays as two CTEs
    "pipeline_embed_corpus" ->
      s"""WITH k AS (SELECT doc_id, source, text,
         |             ${h64("'graft:cap:' || doc_id::VARCHAR")} AS k
         |           FROM documents),
         |capped AS (SELECT doc_id, source, text FROM (
         |    SELECT doc_id, source, text,
         |           row_number() OVER (PARTITION BY source ORDER BY k, doc_id)
         |             AS rn
         |    FROM k) WHERE rn <= 5)
         |SELECT doc_id, source,
         |  CAST(SUM(${h64("'emb:' || j || ':' || coalesce(text, '')")}
         |           % 1000) AS BIGINT) AS checksum
         |FROM capped CROSS JOIN range(8) t(j)
         |GROUP BY doc_id, source""".stripMargin,
    // the oracle IS the model: the stub's md5 arithmetic replayed per
    // (doc, component), summed to the same integer checksum — text
    // bytes bent anywhere in the Arrow round-trip split the hashes
    "emb_arrow_stage" ->
      s"""SELECT doc_id, CAST(16 AS BIGINT) AS dim,
         |  CAST(SUM(${h64("'emb:' || j || ':' || coalesce(text, '')")}
         |           % 1000) AS BIGINT) AS checksum
         |FROM documents CROSS JOIN range(16) t(j)
         |GROUP BY doc_id""".stripMargin,
    // the property-gate oracle: DuckDB states the KLL rank-error
    // invariant (within_bound = 1 for every grid cell) plus the exact
    // non-null counts; the Spark side PROVES it per run by ranking the
    // sketch estimates against the real column. A bound violation
    // under any merge order hash-fails here.
    "profile_distinct_hll" ->
      s"""WITH r AS (
         |  SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS val
         |  FROM documents
         |  UNION ALL SELECT 'lang', lang FROM documents
         |  UNION ALL SELECT 'source', source FROM documents),
         |h AS (SELECT col_name,
         |        ${h64("'hll:' || val")} AS h
         |      FROM r WHERE val IS NOT NULL),
         |rg AS (SELECT col_name, h // 281474976710656 AS idx,
         |         h % 281474976710656 AS w FROM h),
         |rk AS (SELECT col_name, idx,
         |         CASE WHEN w = 0 THEN 49
         |              ELSE 49 - length(bin(w)) END AS rank
         |       FROM rg),
         |regs AS (SELECT col_name, idx, max(rank) AS mr
         |         FROM rk GROUP BY 1, 2),
         |f AS (SELECT col_name, CAST(count(*) AS BIGINT) AS n_regs,
         |        sum((1::BIGINT << (61 - mr))::DECIMAL(38,0)) AS s_present
         |      FROM regs GROUP BY 1),
         |e AS (SELECT col_name, n_regs,
         |        s_present + (4096 - n_regs)
         |          * 2305843009213693952::DECIMAL(38,0) AS s_total,
         |        4096 - n_regs AS v
         |      FROM f),
         |est AS (SELECT col_name, n_regs, v,
         |         0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
         |           * 2305843009213693952.0
         |           / CAST(s_total AS DOUBLE) AS e_raw
         |       FROM e),
         |hll AS (SELECT col_name, n_regs,
         |         CAST(CASE WHEN e_raw <= 10240.0 AND v > 0
         |              THEN round(4096.0 * ln(4096.0 / CAST(v AS DOUBLE)))
         |              ELSE round(e_raw) END AS BIGINT) AS hll_est
         |       FROM est),
         |ex AS (SELECT col_name, CAST(count(DISTINCT val) AS BIGINT)
         |         AS n_exact
         |       FROM r WHERE val IS NOT NULL GROUP BY 1)
         |SELECT hll.col_name AS "column", n_regs, hll_est, n_exact,
         |  (hll_est - n_exact) * 1000000 // n_exact AS err_ppm
         |FROM hll JOIN ex USING (col_name)""".stripMargin,
    "profile_quantiles_kll" -> {
      val cases = kllCols.map(c =>
        s"SELECT '$c' AS col_name, CAST(count($c) AS BIGINT) AS n FROM lineitem")
        .mkString("\n         UNION ALL ")
      val grid = kllPcts.map(p => s"($p)").mkString(", ")
      s"""WITH n AS ($cases),
         |g AS (SELECT CAST(pct AS BIGINT) AS pct
         |      FROM (VALUES $grid) v(pct))
         |SELECT n.col_name, g.pct, n.n, CAST(1 AS BIGINT) AS within_bound
         |FROM n CROSS JOIN g""".stripMargin
    },
    // p50/p90/p99 are the LOWER exact quantiles of the sample — actual
    // sampled doubles at rank floor(p·(m−1)), bit-exact cross-engine
    // (the round-9 contract; interpolated quantile_cont drifted by
    // ulps across builds)
    "profile_quantiles_sketch" ->
      s"""WITH s AS (SELECT * FROM lineitem
         |  WHERE ${h64("'qsk:' || (l_orderkey * 10 + l_linenumber)::VARCHAR")}
         |          % 1000000 < 100000),
         |u AS (SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS val FROM s
         |      UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM s
         |      UNION ALL SELECT 'l_discount', l_discount FROM s
         |      UNION ALL SELECT 'l_tax', l_tax FROM s),
         |uv AS (SELECT col_name, val FROM u WHERE val IS NOT NULL),
         |c AS (SELECT col_name, val, CAST(count(*) AS BIGINT) AS cnt
         |      FROM uv GROUP BY 1, 2),
         |n AS (SELECT col_name, CAST(count(*) AS BIGINT) AS n_sample
         |      FROM uv GROUP BY 1),
         |w AS (SELECT c.col_name, val,
         |        CAST(sum(cnt) OVER (PARTITION BY c.col_name ORDER BY val)
         |          AS BIGINT) AS cum, n.n_sample
         |      FROM c JOIN n ON c.col_name = n.col_name)
         |SELECT col_name, max(n_sample) AS n_sample,
         |  min(CASE WHEN cum >= (n_sample - 1) // 2 + 1 THEN val END) AS p50,
         |  min(CASE WHEN cum >= ((n_sample - 1) * 9) // 10 + 1 THEN val END) AS p90,
         |  min(CASE WHEN cum >= ((n_sample - 1) * 99) // 100 + 1 THEN val END) AS p99
         |FROM w GROUP BY 1""".stripMargin,
    // the oracle replays the DIRECT bottom-k window; the Spark side's
    // salted two-stage k-min equals it by construction (every global
    // bottom-k hash ranks <= k within its own salt partition)
    "profile_sketch" ->
      s"""WITH d AS (SELECT doc_id, text,
         |             CASE WHEN doc_id % 97 = 0 THEN NULL ELSE lang END AS lang,
         |             source, n_chars FROM documents),
         |s AS (SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS val FROM d
         |      UNION ALL SELECT 'text', text FROM d
         |      UNION ALL SELECT 'lang', lang FROM d
         |      UNION ALL SELECT 'source', source FROM d
         |      UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM d),
         |dh AS (SELECT DISTINCT col_name, ${h64("val")} AS h
         |       FROM s WHERE val IS NOT NULL),
         |rk AS (SELECT col_name, h,
         |         row_number() OVER (PARTITION BY col_name ORDER BY h) AS r
         |       FROM dh),
         |ag AS (SELECT col_name, count(*) AS k_eff, max(h) AS h_k
         |       FROM rk WHERE r <= 64 GROUP BY 1)
         |SELECT col_name, CAST(k_eff AS BIGINT) AS k_eff,
         |  CAST(h_k AS BIGINT) AS h_k,
         |  CAST(CASE WHEN k_eff < 64 THEN k_eff
         |       ELSE 63 * (1152921504606846976 // greatest(h_k, 1))
         |         + (63 * ((1152921504606846976 % greatest(h_k, 1)) // 64))
         |           // greatest(greatest(h_k, 1) // 64, 1) END
         |    AS BIGINT) AS est_distinct
         |FROM ag""".stripMargin,
    "dedup_overlap_sketch" ->
      s"""WITH corpus AS (
         |  SELECT source, text FROM documents
         |  UNION ALL
         |  SELECT 'mirror' AS source, text FROM documents WHERE doc_id % 50 = 0),
         |dh AS (SELECT DISTINCT source, ${h64(norm)} AS h FROM corpus),
         |sk AS (SELECT source, h FROM (
         |         SELECT source, h,
         |           row_number() OVER (PARTITION BY source ORDER BY h) AS r
         |         FROM dh)
         |       WHERE r <= 64),
         |gs AS (SELECT DISTINCT source FROM sk),
         |pr AS (SELECT a.source AS source_a, b.source AS source_b
         |       FROM gs a JOIN gs b ON a.source < b.source),
         |sides AS (
         |  SELECT pr.source_a, pr.source_b, sk.h, 1 AS in_a, 0 AS in_b
         |  FROM pr JOIN sk ON sk.source = pr.source_a
         |  UNION ALL
         |  SELECT pr.source_a, pr.source_b, sk.h, 0, 1
         |  FROM pr JOIN sk ON sk.source = pr.source_b),
         |m AS (SELECT source_a, source_b, h,
         |        max(in_a) AS in_a, max(in_b) AS in_b
         |      FROM sides GROUP BY 1, 2, 3),
         |rk AS (SELECT *, row_number()
         |         OVER (PARTITION BY source_a, source_b ORDER BY h) AS r
         |       FROM m),
         |ag AS (SELECT source_a, source_b, count(*) AS k_eff,
         |         sum(in_a * in_b) AS n_both, max(h) AS h_k
         |       FROM rk WHERE r <= 64 GROUP BY 1, 2),
         |fin AS (SELECT source_a, source_b, k_eff, n_both,
         |          CASE WHEN k_eff < 64 THEN k_eff
         |          ELSE 63 * (1152921504606846976 // greatest(h_k, 1))
         |            + (63 * ((1152921504606846976 % greatest(h_k, 1)) // 64))
         |              // greatest(greatest(h_k, 1) // 64, 1) END
         |            AS est_union
         |        FROM ag)
         |SELECT source_a, source_b, CAST(k_eff AS BIGINT) AS k_eff,
         |  CAST(n_both AS BIGINT) AS n_both,
         |  CAST(est_union AS BIGINT) AS est_union,
         |  CAST((n_both * 1000000) // k_eff AS BIGINT) AS jaccard_ppm,
         |  CAST((n_both * est_union) // k_eff AS BIGINT) AS est_shared
         |FROM fin""".stripMargin,
    "sample_group_cap" ->
      s"""WITH k AS (SELECT doc_id, source,
         |             ${h64("'graft:cap:' || doc_id::VARCHAR")} AS k
         |           FROM documents)
         |SELECT doc_id, source, pos FROM (
         |  SELECT doc_id, source,
         |         row_number() OVER (PARTITION BY source ORDER BY k, doc_id) - 1
         |           AS pos
         |  FROM k)
         |WHERE pos < 7""".stripMargin,
    "sample_weighted" ->
      s"""WITH e AS (SELECT doc_id, source, n_chars,
         |        CAST(round(-ln(CAST(${h64("'graft:wcap:' || doc_id::VARCHAR")} + 1
         |            AS DOUBLE) / 1152921504606846976.0)
         |          / CAST(n_chars AS DOUBLE) * 1e6) AS BIGINT) AS ekey_micro
         |      FROM documents)
         |SELECT doc_id, source, n_chars, ekey_micro, pos FROM (
         |  SELECT e.*, row_number()
         |      OVER (PARTITION BY source ORDER BY ekey_micro, doc_id) - 1 AS pos
         |  FROM e)
         |WHERE pos < 5""".stripMargin,
    "dedup_url" ->
      s"""WITH u AS (SELECT doc_id,
         |        'https://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
         |          || source || '.example.com/p/' || (doc_id // 40)::VARCHAR
         |          || CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x'
         |                  WHEN doc_id % 4 = 1 THEN '#frag'
         |                  WHEN doc_id % 4 = 2 THEN '/'
         |                  ELSE '' END AS url
         |      FROM documents)
         |SELECT regexp_replace(regexp_replace(regexp_replace(lower(url),
         |         '[?#].*$$', ''), '://www\\.', '://'), '/+$$', '')
         |         AS canonical_url,
         |       min(doc_id) AS keeper_id, count(*) AS n_copies
         |FROM u GROUP BY 1""".stripMargin,
    "text_gopher_filter" ->
      s"""WITH m AS (SELECT doc_id,
         |        len(string_split(nt, ' ')) AS n_tokens,
         |        CAST(len(replace(nt, ' ', '')) AS DOUBLE)
         |          / len(string_split(nt, ' ')) AS mtl,
         |        round(CAST(len(regexp_replace(text, '[a-z0-9A-Z ]', '', 'g')) AS DOUBLE)
         |          / len(text), 6) AS punct_r,
         |        round(CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
         |          / len(text), 6) AS digit_r,
         |        len(list_filter(string_split(nt, ' '),
         |          t -> t in ('the','a','and','of','to','in','is','it'))) AS n_stop
         |      FROM (SELECT doc_id, text, $norm AS nt FROM documents))
         |SELECT doc_id,
         |  CAST(CASE WHEN n_tokens < 50 OR n_tokens > 100000 THEN 1 ELSE 0 END
         |    + CASE WHEN round(mtl, 6) < 3.0 OR round(mtl, 6) > 10.0 THEN 2 ELSE 0 END
         |    + CASE WHEN punct_r > 0.1 THEN 4 ELSE 0 END
         |    + CASE WHEN digit_r > 0.15 THEN 8 ELSE 0 END
         |    + CASE WHEN n_stop < 2 THEN 16 ELSE 0 END AS BIGINT) AS gopher_mask
         |FROM m""".stripMargin,
    "pipeline_monitor_corpus" ->
      s"""WITH s AS (SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS val FROM documents
         |      UNION ALL SELECT 'text', text FROM documents
         |      UNION ALL SELECT 'lang', lang FROM documents
         |      UNION ALL SELECT 'source', source FROM documents),
         |g AS (SELECT col_name, md5(val) AS h, count(*) AS cnt
         |      FROM s GROUP BY 1, 2),
         |p AS (SELECT col_name,
         |        CAST(coalesce(sum(CASE WHEN h IS NULL THEN cnt END), 0) AS BIGINT)
         |          AS n_nulls,
         |        count(h) AS n_distinct
         |      FROM g GROUP BY 1),
         |t AS (SELECT source, unnest(string_split($norm, ' ')) AS tok
         |      FROM documents),
         |cst AS (SELECT source, tok, count(*) AS cst FROM t GROUP BY 1, 2),
         |ct AS (SELECT tok, CAST(sum(cst) AS BIGINT) AS ct FROM cst GROUP BY 1),
         |ns AS (SELECT source, CAST(sum(cst) AS BIGINT) AS ns FROM cst GROUP BY 1),
         |n AS (SELECT CAST(sum(ns) AS BIGINT) AS n FROM ns),
         |dq AS (SELECT cst.source, cst.cst,
         |         CAST(round(ln(CAST(cst.cst AS DOUBLE) * CAST(n.n AS DOUBLE)
         |           / (CAST(ct.ct AS DOUBLE) * CAST(ns.ns AS DOUBLE))) * 1e6) AS BIGINT) AS q
         |       FROM cst JOIN ct USING (tok) JOIN ns USING (source), n),
         |eq AS (SELECT event_id, event_type,
         |         CAST(round(value * 100) AS BIGINT) AS q FROM events),
         |es AS (SELECT event_type, count(*) AS n, sum(q) AS s1, sum(q * q) AS s2
         |       FROM eq GROUP BY 1),
         |flagged AS (SELECT eq.event_type
         |            FROM eq JOIN es USING (event_type)
         |            WHERE es.n * es.s2 > es.s1 * es.s1
         |              AND abs((CAST(eq.q AS DOUBLE) * es.n - es.s1)
         |                  / sqrt(CAST(es.n AS DOUBLE) * es.s2
         |                         - CAST(es.s1 AS DOUBLE) * es.s1)) > 3.0)
         |SELECT 'null_count' AS "check", col_name AS key, n_nulls AS value_long FROM p
         |UNION ALL SELECT 'distinct_count', col_name, n_distinct FROM p
         |UNION ALL SELECT 'kl_drift_micro', source,
         |         CAST(sum(cst * q) AS BIGINT) FROM dq GROUP BY 2
         |UNION ALL SELECT 'anomaly_count', event_type, count(*)
         |         FROM flagged GROUP BY 2""".stripMargin,
    "graph_pagerank" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |deg AS (SELECT doc_id AS id,
         |          1 + (${h64("'prdeg:' || doc_id::VARCHAR")} % 3) AS outdeg
         |        FROM documents),
         |ej AS (SELECT id AS src, outdeg,
         |         unnest(generate_series(0, CAST(outdeg - 1 AS INT))) AS j
         |       FROM deg),
         |e AS (SELECT src, outdeg,
         |        ${h64("'pr:' || j::VARCHAR || ':' || src::VARCHAR")} % nn.n AS dst
         |      FROM ej, nn),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM deg),
         |i1 AS (SELECT deg.id, 150000 + (85 * coalesce(s.inb, 0)) // 100 AS r
         |       FROM deg LEFT JOIN (
         |         SELECT e.dst, sum(p.r // e.outdeg) AS inb
         |         FROM e JOIN r0 p ON e.src = p.id GROUP BY 1) s
         |       ON deg.id = s.dst),
         |i2 AS (SELECT deg.id, 150000 + (85 * coalesce(s.inb, 0)) // 100 AS r
         |       FROM deg LEFT JOIN (
         |         SELECT e.dst, sum(p.r // e.outdeg) AS inb
         |         FROM e JOIN i1 p ON e.src = p.id GROUP BY 1) s
         |       ON deg.id = s.dst),
         |i3 AS (SELECT deg.id, 150000 + (85 * coalesce(s.inb, 0)) // 100 AS r
         |       FROM deg LEFT JOIN (
         |         SELECT e.dst, sum(p.r // e.outdeg) AS inb
         |         FROM e JOIN i2 p ON e.src = p.id GROUP BY 1) s
         |       ON deg.id = s.dst)
         |SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_micro FROM i3""".stripMargin,
    "graph_triangles" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |deg AS (SELECT doc_id AS id,
         |          1 + (${h64("'prdeg:' || doc_id::VARCHAR")} % 3) AS outdeg
         |        FROM documents),
         |ej AS (SELECT id AS src, outdeg,
         |         unnest(generate_series(0, CAST(outdeg - 1 AS INT))) AS j
         |       FROM deg),
         |e AS (SELECT src,
         |        ${h64("'pr:' || j::VARCHAR || ':' || src::VARCHAR")} % nn.n AS dst
         |      FROM ej, nn),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM e WHERE src <> dst),
         |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |      FROM und e1 JOIN und e2 ON e1.b = e2.a
         |      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_triangles
         |FROM (SELECT unnest([x, y, z]) AS id FROM t) GROUP BY 1""".stripMargin,
    "graph_kcore" -> kcoreOracleSql,
    // the fixpoint twin verifies against the SAME unrolled peel: the
    // gate corpus converges inside 3 rounds (spec-pinned), so the
    // 3-round oracle IS the fixpoint there — a deeper-peeling corpus
    // would hash-fail instead of gating a partial peel
    "graph_kcore_fixpoint" -> kcoreOracleSql,
    "graph_neighbor_jaccard" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |deg AS (SELECT doc_id AS id,
         |          1 + (${h64("'prdeg:' || doc_id::VARCHAR")} % 3) AS outdeg
         |        FROM documents),
         |ej AS (SELECT id AS src, outdeg,
         |         unnest(generate_series(0, CAST(outdeg - 1 AS INT))) AS j
         |       FROM deg),
         |e AS (SELECT src,
         |        ${h64("'pr:' || j::VARCHAR || ':' || src::VARCHAR")} % nn.n AS dst
         |      FROM ej, nn),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM e WHERE src <> dst),
         |adj AS (SELECT a AS u, b AS v FROM und
         |        UNION ALL SELECT b, a FROM und),
         |keep AS (SELECT u FROM adj GROUP BY 1 HAVING count(*) <= 16),
         |adjf AS (SELECT u, v FROM adj
         |         WHERE u IN (SELECT u FROM keep) AND v IN (SELECT u FROM keep)),
         |degf AS (SELECT u, count(*) AS dg FROM adjf GROUP BY 1),
         |sh AS (SELECT a1.v AS x, a2.v AS y, count(*) AS s
         |       FROM adjf a1 JOIN adjf a2 ON a1.u = a2.u AND a1.v < a2.v
         |       GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT sh.x AS id_a, sh.y AS id_b, CAST(sh.s AS BIGINT) AS shared,
         |  CAST((1000 * sh.s) // (da.dg + db.dg - sh.s) AS BIGINT) AS jac_milli
         |FROM sh JOIN degf da ON sh.x = da.u JOIN degf db ON sh.y = db.u""".stripMargin,
    "profile_histogram_eq" ->
      s"""WITH st AS (
         |  SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS val FROM lineitem
         |  UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
         |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem),
         |c AS (SELECT col_name, CAST(floor(val * 100) AS BIGINT) AS cents,
         |        count(*) AS cnt
         |      FROM st WHERE val IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT col_name, sum(cnt) AS n FROM c GROUP BY 1),
         |w AS (SELECT c.col_name, cents, cnt, n,
         |        sum(cnt) OVER (PARTITION BY c.col_name ORDER BY cents) AS cum
         |      FROM c JOIN t USING (col_name)),
         |b AS (SELECT col_name, cents, cnt,
         |        ((cum - cnt) * 8) // n AS bin FROM w)
         |SELECT col_name, CAST(bin AS BIGINT) AS bin,
         |  CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  CAST(min(cents) AS BIGINT) AS lo_cents,
         |  CAST(max(cents) AS BIGINT) AS hi_cents
         |FROM b GROUP BY 1, 2""".stripMargin,
    "profile_entropy" ->
      s"""WITH src AS (SELECT doc_id,
         |    CASE WHEN doc_id % 97 = 0 THEN NULL ELSE lang END AS lang,
         |    source FROM documents),
         |st AS (
         |  SELECT 'doc_id' AS col_name, md5(doc_id::VARCHAR) AS digest FROM src
         |  UNION ALL SELECT 'lang', md5(lang) FROM src
         |  UNION ALL SELECT 'source', md5(source) FROM src),
         |c AS (SELECT col_name, digest, count(*) AS cnt FROM st GROUP BY 1, 2),
         |t AS (SELECT col_name, sum(cnt) AS n FROM c
         |      WHERE digest IS NOT NULL GROUP BY 1),
         |nv AS (SELECT col_name, sum(cnt) AS nn FROM c
         |       WHERE digest IS NULL GROUP BY 1),
         |agg AS (SELECT c.col_name, t.n, count(*) AS n_distinct,
         |    sum(c.cnt * CAST(round(ln(t.n / CAST(c.cnt AS DOUBLE)) * 1000000)
         |        AS BIGINT)) AS tot
         |  FROM c JOIN t USING (col_name) WHERE c.digest IS NOT NULL
         |  GROUP BY 1, 2)
         |SELECT agg.col_name, CAST(agg.n AS BIGINT) AS n,
         |  CAST(agg.n_distinct AS BIGINT) AS n_distinct,
         |  CAST(coalesce(nv.nn, 0) AS BIGINT) AS n_null,
         |  CAST(agg.tot // agg.n AS BIGINT) AS ent_micro
         |FROM agg LEFT JOIN nv USING (col_name)""".stripMargin,
    "profile_benford" ->
      s"""WITH s AS (
         |  SELECT 'l_extendedprice' AS col_name,
         |         CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
         |  UNION ALL
         |  SELECT 'l_quantity', CAST(l_quantity AS DOUBLE) FROM lineitem),
         |d AS (SELECT col_name, CAST(floor(abs(v) * 100) AS BIGINT) AS iv
         |      FROM s WHERE v IS NOT NULL),
         |g AS (SELECT col_name,
         |        CAST(substr(iv::VARCHAR, 1, 1) AS BIGINT) AS digit,
         |        count(*) AS n
         |      FROM d WHERE iv > 0 GROUP BY 1, 2),
         |t AS (SELECT col_name, sum(n) AS n_total FROM g GROUP BY 1),
         |e(digit, exp_ppm) AS (VALUES (1, 301029), (2, 176091),
         |  (3, 124938), (4, 96910), (5, 79181), (6, 66946), (7, 57991),
         |  (8, 51152), (9, 45757))
         |SELECT g.col_name, g.digit, CAST(g.n AS BIGINT) AS n,
         |  CAST(t.n_total AS BIGINT) AS n_total,
         |  CAST((g.n * 1000000) // t.n_total AS BIGINT) AS obs_ppm,
         |  CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
         |  CAST(abs((g.n * 1000000) // t.n_total - e.exp_ppm) AS BIGINT)
         |    AS dev_ppm
         |FROM g JOIN t USING (col_name) JOIN e ON g.digit = e.digit""".stripMargin,
    "profile_fd" ->
      s"""WITH p AS (SELECT DISTINCT l_orderkey AS det,
         |        coalesce(CAST(l_shipdate AS VARCHAR), ' NULL') AS dep
         |      FROM lineitem),
         |c AS (SELECT det, count(*) AS nd, min(dep) AS lo, max(dep) AS hi
         |      FROM p GROUP BY 1 HAVING count(*) > 1),
         |r AS (SELECT l_orderkey AS det, count(*) AS nr FROM lineitem GROUP BY 1)
         |SELECT c.det AS l_orderkey, CAST(r.nr AS BIGINT) AS n_rows,
         |  CAST(c.nd AS BIGINT) AS n_dependents, lo AS dep_lo, hi AS dep_hi
         |FROM c JOIN r USING (det)""".stripMargin,
    "graph_reciprocity" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |deg AS (SELECT doc_id AS id,
         |          1 + (${h64("'prdeg:' || doc_id::VARCHAR")} % 3) AS outdeg
         |        FROM documents),
         |ej AS (SELECT id AS src, outdeg,
         |         unnest(generate_series(0, CAST(outdeg - 1 AS INT))) AS j
         |       FROM deg),
         |e AS (SELECT src,
         |        ${h64("'pr:' || j::VARCHAR || ':' || src::VARCHAR")} % nn.n AS dst
         |      FROM ej, nn),
         |e2 AS (SELECT src, dst FROM e
         |       UNION ALL SELECT dst, src FROM e WHERE src % 10 = 0),
         |d AS (SELECT DISTINCT src AS u, dst AS v FROM e2 WHERE src <> dst),
         |od AS (SELECT u, count(*) AS out_deg FROM d GROUP BY 1),
         |rc AS (SELECT d1.u, count(*) AS nr FROM d d1
         |       JOIN d d2 ON d2.u = d1.v AND d2.v = d1.u GROUP BY 1)
         |SELECT od.u AS doc_id, CAST(out_deg AS BIGINT) AS out_deg,
         |  CAST(coalesce(nr, 0) AS BIGINT) AS n_recip,
         |  CAST((coalesce(nr, 0) * 1000000) // out_deg AS BIGINT) AS recip_ppm
         |FROM od LEFT JOIN rc USING (u)""".stripMargin,
    // replays the escape-hostile injection straight from documents:
    // any byte bent by RFC 8259 escaping, gzip framing, or Spark's
    // line-JSON re-parse splits a per-lang fingerprint
    "pipeline_export_jsonl" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |        text || CASE (doc_id % 5)
         |          WHEN 0 THEN ' "quo"ted"'
         |          WHEN 1 THEN ' back\\slash\\'
         |          WHEN 2 THEN ' tab' || chr(9) || ' nl' || chr(10) || ' end'
         |          WHEN 3 THEN ' uni é✓ь'
         |          ELSE ' ctl' || chr(1) || chr(31)
         |        END AS text
         |      FROM documents WHERE doc_id % 2 = 0)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(text)) AS BIGINT) AS n_chars,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id,
         |  bit_xor(${h64("doc_id::VARCHAR || ':' || md5(text)")})
         |    AS content_xor
         |FROM d GROUP BY 1""".stripMargin,
    "text_ocr_artifacts" ->
      """WITH c AS (SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 0 THEN translate(text, 'oe', '03')
        |             ELSE text END AS t
        |      FROM documents),
        |n AS (SELECT doc_id,
        |        lower(trim(regexp_replace(t, '\s+', ' ', 'g'))) AS nt
        |      FROM c),
        |k AS (SELECT doc_id, nt, string_split(nt, ' ') AS toks FROM n)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[0-9]')
        |       AND regexp_matches(x, '[a-z]'))) * 1000000
        |       // len(toks) AS BIGINT) AS mixed_ppm,
        |  CAST(len(list_filter(toks, x -> len(x) = 1)) * 1000000
        |       // len(toks) AS BIGINT) AS singleton_ppm,
        |  CAST(len(string_split(nt, '- ')) - 1 AS BIGINT) AS hyphen_breaks,
        |  (CAST(len(list_filter(toks, x -> regexp_matches(x, '[0-9]')
        |       AND regexp_matches(x, '[a-z]'))) * 1000000
        |       // len(toks) AS BIGINT) >= 100000) AS flagged
        |FROM k""".stripMargin,
    "text_c4_filter" ->
      """WITH base AS (SELECT doc_id,
        |        string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
        |          ' ') AS toks
        |      FROM documents),
        |ln AS (SELECT doc_id, toks,
        |        CAST(ceil(len(toks) / 8.0) AS INT) AS nch FROM base),
        |ls AS (SELECT doc_id, list_transform(range(0, nch), i ->
        |        array_to_string(list_slice(toks, i*8 + 1, i*8 + 8), ' ') ||
        |        CASE WHEN (doc_id + i) % 11 = 0 THEN ' javascript.'
        |             WHEN (doc_id + i) % 3 <> 0 THEN '.'
        |             ELSE '' END) AS lines0
        |      FROM ln),
        |txt AS (SELECT doc_id, array_to_string(lines0, chr(10)) ||
        |        CASE WHEN doc_id % 13 = 0
        |             THEN chr(10) || 'lorem ipsum dolor sit amet.'
        |             ELSE '' END ||
        |        CASE WHEN doc_id % 17 = 0
        |             THEN chr(10) || 'function() {.'
        |             ELSE '' END AS t
        |      FROM ls),
        |f AS (SELECT doc_id, t, string_split(t, chr(10)) AS lines FROM txt),
        |k AS (SELECT doc_id, t, lines,
        |        list_filter(lines, l -> regexp_matches(l, '[.!?"]$')
        |          AND len(string_split(l, ' ')) >= 5
        |          AND NOT regexp_matches(l, 'javascript')) AS keptl
        |      FROM f)
        |SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines_in,
        |  CAST(len(keptl) AS BIGINT) AS n_lines_kept,
        |  CAST(coalesce(len(array_to_string(keptl, chr(10))), 0)
        |       AS BIGINT) AS clean_chars,
        |  (len(keptl) >= 3 AND NOT contains(lower(t), 'lorem ipsum')
        |   AND NOT contains(t, '{')) AS kept
        |FROM k""".stripMargin,
    // replays the WHOLE c4 curation chain: synthesis, OCR damage,
    // line/page rules, page rewrite, confusion-ppm filter, manifest
    "pipeline_c4_corpus" ->
      s"""WITH base AS (SELECT doc_id, lang,
         |        string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
         |          ' ') AS toks
         |      FROM documents),
         |ln AS (SELECT doc_id, lang, toks,
         |        CAST(ceil(len(toks) / 8.0) AS INT) AS nch FROM base),
         |ls AS (SELECT doc_id, lang, list_transform(range(0, nch), i ->
         |        array_to_string(list_slice(toks, i*8 + 1, i*8 + 8), ' ') ||
         |        CASE WHEN (doc_id + i) % 11 = 0 THEN ' javascript.'
         |             WHEN (doc_id + i) % 3 <> 0 THEN '.'
         |             ELSE '' END) AS lines0
         |      FROM ln),
         |txt AS (SELECT doc_id, lang, array_to_string(lines0, chr(10)) ||
         |        CASE WHEN doc_id % 13 = 0
         |             THEN chr(10) || 'lorem ipsum dolor sit amet.'
         |             ELSE '' END ||
         |        CASE WHEN doc_id % 17 = 0
         |             THEN chr(10) || 'function() {.'
         |             ELSE '' END AS t
         |      FROM ls),
         |dmg AS (SELECT doc_id, lang,
         |        CASE WHEN doc_id % 7 = 0 THEN translate(t, 'oe', '03')
         |             ELSE t END AS t
         |      FROM txt),
         |f AS (SELECT doc_id, lang, t, string_split(t, chr(10)) AS lines
         |      FROM dmg),
         |k AS (SELECT doc_id, lang, t,
         |        list_filter(lines, l -> regexp_matches(l, '[.!?"]$$')
         |          AND len(string_split(l, ' ')) >= 5
         |          AND NOT regexp_matches(l, 'javascript')) AS keptl
         |      FROM f),
         |pages AS (SELECT doc_id, lang,
         |        array_to_string(keptl, chr(10)) AS ct
         |      FROM k
         |      WHERE len(keptl) >= 3
         |        AND NOT contains(lower(t), 'lorem ipsum')
         |        AND NOT contains(t, '{')),
         |ocr AS (SELECT doc_id, lang, ct,
         |        string_split(lower(trim(regexp_replace(ct, '\\s+', ' ', 'g'))),
         |          ' ') AS toks
         |      FROM pages),
         |keep AS (SELECT doc_id, lang, ct FROM ocr
         |      WHERE len(list_filter(toks, x -> regexp_matches(x, '[0-9]')
         |            AND regexp_matches(x, '[a-z]'))) * 1000000
         |            // len(toks) < 100000)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(ct)) AS BIGINT) AS n_chars,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id,
         |  bit_xor(${h64("doc_id::VARCHAR || ':' || md5(ct)")})
         |    AS content_xor
         |FROM keep GROUP BY 1""".stripMargin,
    // replays render → whitespace tokens → shard hash → prefix-sum
    // packing → per-pack conv-fp XOR: the whole SFT assembly chain
    "pipeline_sft_corpus" ->
      s"""WITH t AS (SELECT source AS conv_id, text,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY doc_id) - 1 AS i
         |      FROM documents),
         |r AS (SELECT conv_id,
         |        string_agg(CASE WHEN i % 2 = 0 THEN '<|user|>'
         |                        ELSE '<|assistant|>' END
         |          || chr(10) || text || chr(10) || '<|end|>' || chr(10),
         |          '' ORDER BY i) AS rendered
         |      FROM t GROUP BY 1),
         |k AS (SELECT conv_id, md5(rendered) AS fp,
         |        CAST(len(string_split(lower(trim(regexp_replace(rendered,
         |          '\\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tokens,
         |        CAST(${h64("conv_id")} % 4 AS INT) AS shard
         |      FROM r),
         |p AS (SELECT conv_id, fp, n_tokens, shard,
         |        CAST(coalesce(sum(n_tokens) OVER (
         |          PARTITION BY shard ORDER BY conv_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          // 2048 AS BIGINT) AS pack_id
         |      FROM k)
         |SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_convs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  bit_xor(${h64("conv_id || ':' || fp")}) AS content_xor
         |FROM p GROUP BY 1, 2""".stripMargin,
    "text_chat_render" ->
      """WITH t AS (SELECT source AS conv_id, text,
        |        row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS i
        |      FROM documents),
        |r AS (SELECT conv_id,
        |        string_agg(CASE WHEN i % 2 = 0 THEN '<|user|>'
        |                        ELSE '<|assistant|>' END
        |          || chr(10) || text || chr(10) || '<|end|>' || chr(10),
        |          '' ORDER BY i) AS rendered,
        |        CAST(count(*) AS BIGINT) AS n_turns
        |      FROM t GROUP BY 1)
        |SELECT conv_id, n_turns, CAST(len(rendered) AS BIGINT) AS n_chars,
        |  md5(rendered) AS fp
        |FROM r""".stripMargin,
    "graph_assortativity" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |deg AS (SELECT doc_id AS id,
         |          1 + (${h64("'prdeg:' || doc_id::VARCHAR")} % 3) AS outdeg
         |        FROM documents),
         |ej AS (SELECT id AS src, outdeg,
         |         unnest(generate_series(0, CAST(outdeg - 1 AS INT))) AS j
         |       FROM deg),
         |e0 AS (SELECT src,
         |        ${h64("'pr:' || j::VARCHAR || ':' || src::VARCHAR")} % nn.n AS dst
         |      FROM ej, nn),
         |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
         |od AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS j FROM e GROUP BY 1),
         |idg AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS k FROM e GROUP BY 1),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
         |        CAST(sum(j) AS BIGINT) AS sj, CAST(sum(k) AS BIGINT) AS sk,
         |        CAST(sum(j*k) AS BIGINT) AS sjk,
         |        CAST(sum(j*j) AS BIGINT) AS sjj,
         |        CAST(sum(k*k) AS BIGINT) AS skk
         |      FROM e JOIN od ON e.src = od.id JOIN idg ON e.dst = idg.id)
         |SELECT n_edges, sj, sk, sjk, sjj, skk,
         |  CASE WHEN n_edges*sjj - sj*sj = 0 OR n_edges*skk - sk*sk = 0
         |       THEN NULL
         |       ELSE CAST(round(CAST(n_edges*sjk - sj*sk AS DOUBLE)
         |            / sqrt(CAST(n_edges*sjj - sj*sj AS DOUBLE)
         |                   * CAST(n_edges*skk - sk*sk AS DOUBLE)) * 1e6)
         |            AS BIGINT)
         |  END AS r_micro
         |FROM s""".stripMargin,
    "dedup_rate_by_source" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, source, text FROM documents
         |  WHERE doc_id % 50 = 0),
         |c AS (SELECT source,
         |        md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
         |      FROM corpus),
         |dh AS (SELECT h FROM c GROUP BY 1 HAVING count(*) > 1),
         |f AS (SELECT source, CAST(count(*) AS BIGINT) AS n_dup_docs
         |      FROM c SEMI JOIN dh USING (h) GROUP BY 1),
         |t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |      FROM c GROUP BY 1)
         |SELECT t.source, n_docs,
         |  CAST(coalesce(n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
         |  CAST(coalesce(n_dup_docs, 0) * 1000000 // n_docs AS BIGINT)
         |    AS dup_ppm
         |FROM t LEFT JOIN f ON t.source = f.source""".stripMargin,
    "dedup_lsh_tuning" ->
      """WITH sp AS (SELECT * FROM (VALUES (1, 16), (2, 8), (4, 4),
        |        (8, 2), (16, 1)) AS t(bands, rows_per_band)),
        |g AS (SELECT CAST(bands AS BIGINT) AS bands,
        |        CAST(rows_per_band AS BIGINT) AS rows_per_band,
        |        CAST(unnest(generate_series(50000, 950000, 50000)) AS BIGINT)
        |          AS s_ppm
        |      FROM sp)
        |SELECT bands, rows_per_band, s_ppm,
        |  CAST(round((1.0 - pow(1.0 - pow(CAST(s_ppm AS DOUBLE) / 1000000.0,
        |       rows_per_band), bands)) * 1e6) AS BIGINT) AS p_detect_ppm,
        |  CAST(round(pow(1.0 / bands, 1.0 / rows_per_band) * 1e6) AS BIGINT)
        |    AS threshold_ppm
        |FROM g""".stripMargin,
    "profile_psi" ->
      """WITH ev AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day
        |      FROM events WHERE ts IS NOT NULL),
        |m AS (SELECT (min(day) + max(day)) // 2 AS mid FROM ev),
        |cc AS (SELECT event_type AS category, CAST(count(*) AS BIGINT) AS n_cur
        |      FROM ev, m WHERE day > mid GROUP BY 1),
        |rc AS (SELECT event_type AS category, CAST(count(*) AS BIGINT) AS n_ref
        |      FROM ev, m WHERE day <= mid GROUP BY 1),
        |j AS (SELECT category, coalesce(n_cur, 0) AS n_cur,
        |        coalesce(n_ref, 0) AS n_ref
        |      FROM cc FULL JOIN rc USING (category)),
        |t AS (SELECT CAST(sum(n_cur) AS BIGINT) AS tot_cur,
        |        CAST(sum(n_ref) AS BIGINT) AS tot_ref,
        |        CAST(count(*) AS BIGINT) AS k FROM j)
        |SELECT category, CAST(n_cur AS BIGINT) AS n_cur,
        |  CAST(n_ref AS BIGINT) AS n_ref,
        |  CAST((n_cur + 1) * 1000000 // (tot_cur + k) AS BIGINT) AS cur_ppm,
        |  CAST((n_ref + 1) * 1000000 // (tot_ref + k) AS BIGINT) AS ref_ppm,
        |  CAST(round(
        |    (CAST(n_cur + 1 AS DOUBLE) / CAST(tot_cur + k AS DOUBLE)
        |     - CAST(n_ref + 1 AS DOUBLE) / CAST(tot_ref + k AS DOUBLE))
        |    * ln((CAST(n_cur + 1 AS DOUBLE) * CAST(tot_ref + k AS DOUBLE))
        |          / (CAST(n_ref + 1 AS DOUBLE) * CAST(tot_cur + k AS DOUBLE)))
        |    * 1e6) AS BIGINT) AS psi_micro
        |FROM j, t""".stripMargin,
    "profile_novelty" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day
        |      FROM events WHERE ts IS NOT NULL),
        |pd AS (SELECT day, CAST(count(*) AS BIGINT) AS n_rows
        |      FROM e GROUP BY 1),
        |fs AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new
        |      FROM (SELECT user_id, min(day) AS day FROM e GROUP BY 1)
        |      GROUP BY 1)
        |SELECT pd.day, n_rows,
        |  CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
        |  CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY pd.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_distinct
        |FROM pd LEFT JOIN fs USING (day)""".stripMargin,
    "profile_mutual_info" ->
      """WITH cells AS (SELECT lang AS a, source AS b,
        |        CAST(count(*) AS BIGINT) AS c_ab
        |      FROM documents GROUP BY 1, 2),
        |ca AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cells GROUP BY 1),
        |cb AS (SELECT b, CAST(sum(c_ab) AS BIGINT) AS c_b FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM cells),
        |mi AS (SELECT CAST(sum(c_ab * CAST(round(ln(
        |          CAST(c_ab AS DOUBLE) * CAST(n AS DOUBLE)
        |          / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))) * 1e6)
        |        AS BIGINT)) AS BIGINT) AS mi_micro
        |      FROM cells JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN nn),
        |ha AS (SELECT CAST(sum(c_a * CAST(round(ln(
        |          CAST(n AS DOUBLE) / CAST(c_a AS DOUBLE)) * 1e6)
        |        AS BIGINT)) AS BIGINT) AS h_a_micro FROM ca CROSS JOIN nn),
        |hb AS (SELECT CAST(sum(c_b * CAST(round(ln(
        |          CAST(n AS DOUBLE) / CAST(c_b AS DOUBLE)) * 1e6)
        |        AS BIGINT)) AS BIGINT) AS h_b_micro FROM cb CROSS JOIN nn)
        |SELECT 'lang' AS col_a, 'source' AS col_b, n, mi_micro,
        |  h_a_micro, h_b_micro,
        |  CASE WHEN least(h_a_micro, h_b_micro) = 0 THEN NULL
        |       ELSE CAST(round(CAST(mi_micro AS DOUBLE)
        |            / CAST(least(h_a_micro, h_b_micro) AS DOUBLE) * 1e6)
        |            AS BIGINT)
        |  END AS nmi_ppm
        |FROM nn CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb""".stripMargin,
    "graph_hits" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |deg AS (SELECT doc_id AS id,
         |          1 + (${h64("'prdeg:' || doc_id::VARCHAR")} % 3) AS outdeg
         |        FROM documents),
         |ej AS (SELECT id AS src, outdeg,
         |         unnest(generate_series(0, CAST(outdeg - 1 AS INT))) AS j
         |       FROM deg),
         |e AS (SELECT src,
         |        ${h64("'pr:' || j::VARCHAR || ':' || src::VARCHAR")} % nn.n AS dst
         |      FROM ej, nn),
         |a1r AS (SELECT dst, sum(1000000) AS araw FROM e GROUP BY 1),
         |a1m AS (SELECT greatest(max(araw), 1) AS mx FROM a1r),
         |a1 AS (SELECT d.id, (coalesce(r.araw, 0) * 1000000) // m.mx AS a
         |       FROM deg d LEFT JOIN a1r r ON d.id = r.dst, a1m m),
         |h1r AS (SELECT e.src, sum(a1.a) AS hraw
         |        FROM e JOIN a1 ON e.dst = a1.id GROUP BY 1),
         |h1m AS (SELECT greatest(max(hraw), 1) AS mx FROM h1r),
         |h1 AS (SELECT d.id, (coalesce(r.hraw, 0) * 1000000) // m.mx AS h
         |       FROM deg d LEFT JOIN h1r r ON d.id = r.src, h1m m),
         |a2r AS (SELECT e.dst, sum(h1.h) AS araw
         |        FROM e JOIN h1 ON e.src = h1.id GROUP BY 1),
         |a2m AS (SELECT greatest(max(araw), 1) AS mx FROM a2r),
         |a2 AS (SELECT d.id, (coalesce(r.araw, 0) * 1000000) // m.mx AS a
         |       FROM deg d LEFT JOIN a2r r ON d.id = r.dst, a2m m),
         |h2r AS (SELECT e.src, sum(a2.a) AS hraw
         |        FROM e JOIN a2 ON e.dst = a2.id GROUP BY 1),
         |h2m AS (SELECT greatest(max(hraw), 1) AS mx FROM h2r),
         |h2 AS (SELECT d.id, (coalesce(r.hraw, 0) * 1000000) // m.mx AS h
         |       FROM deg d LEFT JOIN h2r r ON d.id = r.src, h2m m)
         |SELECT d.id AS doc_id, CAST(h2.h AS BIGINT) AS hub_micro,
         |       CAST(a2.a AS BIGINT) AS auth_micro
         |FROM deg d JOIN h2 ON d.id = h2.id JOIN a2 ON d.id = a2.id""".stripMargin,
    // min-reachable-id labels ARE what star contraction converges to;
    // the recursive CTE is the algorithm-independent truth
    "graph_lpa" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |deg AS (SELECT doc_id AS id,
         |          1 + (${h64("'prdeg:' || doc_id::VARCHAR")} % 3) AS outdeg
         |        FROM documents),
         |ej AS (SELECT id AS src, outdeg,
         |         unnest(generate_series(0, CAST(outdeg - 1 AS INT))) AS j
         |       FROM deg),
         |e AS (SELECT src,
         |        ${h64("'pr:' || j::VARCHAR || ':' || src::VARCHAR")} % nn.n AS dst
         |      FROM ej, nn),
         |ef AS (SELECT src, dst FROM e WHERE src <> dst
         |       AND ${h64("'cc:' || src::VARCHAR || ':' || dst::VARCHAR")} % 3 = 0),
         |eu AS (SELECT src AS a, dst AS b FROM ef
         |       UNION SELECT dst, src FROM ef),
         |l0 AS (SELECT doc_id AS id, doc_id AS lab FROM documents),
         |v1 AS (SELECT eu.a, l0.lab, count(*) AS cnt
         |       FROM eu JOIN l0 ON eu.b = l0.id GROUP BY 1, 2),
         |p1 AS (SELECT a, lab FROM (SELECT a, lab,
         |    row_number() OVER (PARTITION BY a ORDER BY cnt DESC, lab ASC) AS rn
         |  FROM v1) WHERE rn = 1),
         |l1 AS (SELECT l0.id, coalesce(p1.lab, l0.lab) AS lab
         |       FROM l0 LEFT JOIN p1 ON l0.id = p1.a),
         |v2 AS (SELECT eu.a, l1.lab, count(*) AS cnt
         |       FROM eu JOIN l1 ON eu.b = l1.id GROUP BY 1, 2),
         |p2 AS (SELECT a, lab FROM (SELECT a, lab,
         |    row_number() OVER (PARTITION BY a ORDER BY cnt DESC, lab ASC) AS rn
         |  FROM v2) WHERE rn = 1),
         |l2 AS (SELECT l1.id, coalesce(p2.lab, l1.lab) AS lab
         |       FROM l1 LEFT JOIN p2 ON l1.id = p2.a)
         |SELECT id AS doc_id, CAST(lab AS BIGINT) AS community FROM l2""".stripMargin,
    // replays the three frontier rounds as struct-min CTEs on the
    // same sparsified edge derivation as graph_lpa/graph_cc
    "graph_bfs" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |deg AS (SELECT doc_id AS id,
         |          1 + (${h64("'prdeg:' || doc_id::VARCHAR")} % 3) AS outdeg
         |        FROM documents),
         |ej AS (SELECT id AS src, outdeg,
         |         unnest(generate_series(0, CAST(outdeg - 1 AS INT))) AS j
         |       FROM deg),
         |e AS (SELECT src,
         |        ${h64("'pr:' || j::VARCHAR || ':' || src::VARCHAR")} % nn.n AS dst
         |      FROM ej, nn),
         |ef AS (SELECT src, dst FROM e WHERE src <> dst
         |       AND ${h64("'cc:' || src::VARCHAR || ':' || dst::VARCHAR")} % 3 = 0),
         |eu AS (SELECT src AS a, dst AS b FROM ef
         |       UNION SELECT dst, src FROM ef),
         |d0 AS (SELECT doc_id AS id, 0 AS dist, doc_id AS root
         |       FROM documents WHERE doc_id % 23 = 0),
         |c1 AS (SELECT id, dist, root FROM d0 UNION ALL
         |       SELECT eu.b, d0.dist + 1, d0.root
         |       FROM eu JOIN d0 ON eu.a = d0.id),
         |d1 AS (SELECT id, dist, root FROM (SELECT id, dist, root,
         |    row_number() OVER (PARTITION BY id ORDER BY dist, root) AS rn
         |  FROM c1) WHERE rn = 1),
         |c2 AS (SELECT id, dist, root FROM d1 UNION ALL
         |       SELECT eu.b, d1.dist + 1, d1.root
         |       FROM eu JOIN d1 ON eu.a = d1.id),
         |d2 AS (SELECT id, dist, root FROM (SELECT id, dist, root,
         |    row_number() OVER (PARTITION BY id ORDER BY dist, root) AS rn
         |  FROM c2) WHERE rn = 1),
         |c3 AS (SELECT id, dist, root FROM d2 UNION ALL
         |       SELECT eu.b, d2.dist + 1, d2.root
         |       FROM eu JOIN d2 ON eu.a = d2.id),
         |d3 AS (SELECT id, dist, root FROM (SELECT id, dist, root,
         |    row_number() OVER (PARTITION BY id ORDER BY dist, root) AS rn
         |  FROM c3) WHERE rn = 1)
         |SELECT id AS doc_id, CAST(dist AS BIGINT) AS dist,
         |  CAST(root AS BIGINT) AS root
         |FROM d3""".stripMargin,
    "graph_cc" ->
      s"""WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
         |deg AS (SELECT doc_id AS id,
         |          1 + (${h64("'prdeg:' || doc_id::VARCHAR")} % 3) AS outdeg
         |        FROM documents),
         |ej AS (SELECT id AS src, outdeg,
         |         unnest(generate_series(0, CAST(outdeg - 1 AS INT))) AS j
         |       FROM deg),
         |e AS (SELECT src,
         |        ${h64("'pr:' || j::VARCHAR || ':' || src::VARCHAR")} % nn.n AS dst
         |      FROM ej, nn),
         |ef AS (SELECT src, dst FROM e WHERE src <> dst
         |       AND ${h64("'cc:' || src::VARCHAR || ':' || dst::VARCHAR")} % 3 = 0),
         |eu AS (SELECT src AS a, dst AS b FROM ef
         |       UNION SELECT dst, src FROM ef),
         |reach(id, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT eu.b, reach.m FROM reach JOIN eu ON reach.id = eu.a)
         |SELECT id AS doc_id, CAST(min(m) AS BIGINT) AS component
         |FROM reach GROUP BY id""".stripMargin,
    // algorithm-independent SCC truth on the DIRECTED sparsified graph
    // with planted reversals: forward closure by recursive CTE, mutual
    // pairs by closure self-join, label = min mutually reachable id
    "graph_scc" ->
      s"""WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
         |deg AS (SELECT doc_id AS id,
         |          1 + (${h64("'prdeg:' || doc_id::VARCHAR")} % 3) AS outdeg
         |        FROM documents),
         |ej AS (SELECT id AS src, outdeg,
         |         unnest(generate_series(0, CAST(outdeg - 1 AS INT))) AS j
         |       FROM deg),
         |e AS (SELECT src,
         |        ${h64("'pr:' || j::VARCHAR || ':' || src::VARCHAR")} % nn.n AS dst
         |      FROM ej, nn),
         |ef AS (SELECT src, dst FROM e WHERE src <> dst
         |       AND ${h64("'cc:' || src::VARCHAR || ':' || dst::VARCHAR")} % 3 = 0),
         |ep AS (SELECT src, dst FROM ef
         |       UNION SELECT dst AS src, src AS dst FROM ef WHERE src % 10 = 0),
         |fwd(a, b) AS (
         |  SELECT src, dst FROM ep
         |  UNION
         |  SELECT f.a, ep.dst FROM fwd f JOIN ep ON f.b = ep.src),
         |mut AS (SELECT f1.a AS v, f1.b AS u
         |        FROM fwd f1 JOIN fwd f2 ON f1.a = f2.b AND f1.b = f2.a)
         |SELECT d.doc_id AS doc_id,
         |  CAST(least(d.doc_id, coalesce(min(mut.u), d.doc_id)) AS BIGINT) AS scc
         |FROM documents d LEFT JOIN mut ON d.doc_id = mut.v
         |GROUP BY d.doc_id""".stripMargin,
    // the same closure-derived labeling, quotiented: distinct edges
    // joined to labels on both ends, cross-SCC pairs counted
    "graph_condensation" ->
      s"""WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
         |deg AS (SELECT doc_id AS id,
         |          1 + (${h64("'prdeg:' || doc_id::VARCHAR")} % 3) AS outdeg
         |        FROM documents),
         |ej AS (SELECT id AS src, outdeg,
         |         unnest(generate_series(0, CAST(outdeg - 1 AS INT))) AS j
         |       FROM deg),
         |e AS (SELECT src,
         |        ${h64("'pr:' || j::VARCHAR || ':' || src::VARCHAR")} % nn.n AS dst
         |      FROM ej, nn),
         |ef AS (SELECT src, dst FROM e WHERE src <> dst
         |       AND ${h64("'cc:' || src::VARCHAR || ':' || dst::VARCHAR")} % 3 = 0),
         |ep AS (SELECT src, dst FROM ef
         |       UNION SELECT dst AS src, src AS dst FROM ef WHERE src % 10 = 0),
         |fwd(a, b) AS (
         |  SELECT src, dst FROM ep
         |  UNION
         |  SELECT f.a, ep.dst FROM fwd f JOIN ep ON f.b = ep.src),
         |mut AS (SELECT f1.a AS v, f1.b AS u
         |        FROM fwd f1 JOIN fwd f2 ON f1.a = f2.b AND f1.b = f2.a),
         |lab AS (SELECT d.doc_id AS id,
         |          least(d.doc_id, coalesce(min(mut.u), d.doc_id)) AS scc
         |        FROM documents d LEFT JOIN mut ON d.doc_id = mut.v
         |        GROUP BY d.doc_id)
         |SELECT CAST(l1.scc AS BIGINT) AS scc_src,
         |  CAST(l2.scc AS BIGINT) AS scc_dst,
         |  CAST(count(*) AS BIGINT) AS n_edges
         |FROM ep JOIN lab l1 ON ep.src = l1.id JOIN lab l2 ON ep.dst = l2.id
         |WHERE l1.scc <> l2.scc
         |GROUP BY 1, 2""".stripMargin,
    // the closure-derived labeling quotiented, then a depth-bounded
    // recursive walk downstream of the seed components — the
    // definition-grade truth the Spark fixed-round min-dist walk gates
    // against
    "graph_blast_radius" ->
      s"""WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
         |deg AS (SELECT doc_id AS id,
         |          1 + (${h64("'prdeg:' || doc_id::VARCHAR")} % 3) AS outdeg
         |        FROM documents),
         |ej AS (SELECT id AS src, outdeg,
         |         unnest(generate_series(0, CAST(outdeg - 1 AS INT))) AS j
         |       FROM deg),
         |e AS (SELECT src,
         |        ${h64("'pr:' || j::VARCHAR || ':' || src::VARCHAR")} % nn.n AS dst
         |      FROM ej, nn),
         |ef AS (SELECT src, dst FROM e WHERE src <> dst
         |       AND ${h64("'cc:' || src::VARCHAR || ':' || dst::VARCHAR")} % 3 = 0),
         |ep AS (SELECT src, dst FROM ef
         |       UNION SELECT dst AS src, src AS dst FROM ef WHERE src % 10 = 0),
         |fwd(a, b) AS (
         |  SELECT src, dst FROM ep
         |  UNION
         |  SELECT f.a, ep.dst FROM fwd f JOIN ep ON f.b = ep.src),
         |mut AS (SELECT f1.a AS v, f1.b AS u
         |        FROM fwd f1 JOIN fwd f2 ON f1.a = f2.b AND f1.b = f2.a),
         |lab AS (SELECT d.doc_id AS id,
         |          least(d.doc_id, coalesce(min(mut.u), d.doc_id)) AS scc
         |        FROM documents d LEFT JOIN mut ON d.doc_id = mut.v
         |        GROUP BY d.doc_id),
         |qd AS (SELECT l1.scc AS scc_src, l2.scc AS scc_dst
         |       FROM ep JOIN lab l1 ON ep.src = l1.id
         |         JOIN lab l2 ON ep.dst = l2.id
         |       WHERE l1.scc <> l2.scc GROUP BY 1, 2),
         |seedscc AS (SELECT DISTINCT scc FROM lab WHERE id % 97 = 0),
         |reach(scc, dist) AS (
         |  SELECT scc, 0 FROM seedscc
         |  UNION
         |  SELECT qd.scc_dst, r.dist + 1
         |  FROM reach r JOIN qd ON qd.scc_src = r.scc
         |  WHERE r.dist < 6)
         |SELECT CAST(m.scc AS BIGINT) AS scc, m.dist, s.n_docs
         |FROM (SELECT scc, CAST(min(dist) AS BIGINT) AS dist
         |      FROM reach GROUP BY 1) m
         |JOIN (SELECT scc, CAST(count(*) AS BIGINT) AS n_docs
         |      FROM lab GROUP BY 1) s USING (scc)""".stripMargin,
    // the quotient's depth-bounded longest-path layering: layer(s) =
    // max edges over paths into s of length <= 12, sources at 0
    "graph_topo_layers" ->
      s"""WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
         |deg AS (SELECT doc_id AS id,
         |          1 + (${h64("'prdeg:' || doc_id::VARCHAR")} % 3) AS outdeg
         |        FROM documents),
         |ej AS (SELECT id AS src, outdeg,
         |         unnest(generate_series(0, CAST(outdeg - 1 AS INT))) AS j
         |       FROM deg),
         |e AS (SELECT src,
         |        ${h64("'pr:' || j::VARCHAR || ':' || src::VARCHAR")} % nn.n AS dst
         |      FROM ej, nn),
         |ef AS (SELECT src, dst FROM e WHERE src <> dst
         |       AND ${h64("'cc:' || src::VARCHAR || ':' || dst::VARCHAR")} % 3 = 0),
         |ep AS (SELECT src, dst FROM ef
         |       UNION SELECT dst AS src, src AS dst FROM ef WHERE src % 10 = 0),
         |fwd(a, b) AS (
         |  SELECT src, dst FROM ep
         |  UNION
         |  SELECT f.a, ep.dst FROM fwd f JOIN ep ON f.b = ep.src),
         |mut AS (SELECT f1.a AS v, f1.b AS u
         |        FROM fwd f1 JOIN fwd f2 ON f1.a = f2.b AND f1.b = f2.a),
         |lab AS (SELECT d.doc_id AS id,
         |          least(d.doc_id, coalesce(min(mut.u), d.doc_id)) AS scc
         |        FROM documents d LEFT JOIN mut ON d.doc_id = mut.v
         |        GROUP BY d.doc_id),
         |qd AS (SELECT l1.scc AS scc_src, l2.scc AS scc_dst
         |       FROM ep JOIN lab l1 ON ep.src = l1.id
         |         JOIN lab l2 ON ep.dst = l2.id
         |       WHERE l1.scc <> l2.scc GROUP BY 1, 2),
         |paths(scc, len) AS (
         |  SELECT scc_dst, 1 FROM qd
         |  UNION
         |  SELECT qd.scc_dst, p.len + 1
         |  FROM paths p JOIN qd ON qd.scc_src = p.scc
         |  WHERE p.len < 12)
         |SELECT CAST(s.scc AS BIGINT) AS scc,
         |  CAST(coalesce(max(p.len), 0) AS BIGINT) AS layer,
         |  s.n_docs
         |FROM (SELECT scc, CAST(count(*) AS BIGINT) AS n_docs
         |      FROM lab GROUP BY 1) s
         |LEFT JOIN paths p ON p.scc = s.scc
         |GROUP BY s.scc, s.n_docs""".stripMargin,
    "emb_project" ->
      s"""WITH $qPrep,
         |s AS (SELECT j, i,
         |        CASE WHEN ${h64("'proj:' || j::VARCHAR || ':' || i::VARCHAR")} % 2 = 0
         |             THEN 1 ELSE -1 END AS sgn
         |      FROM generate_series(0, 15) AS t(j), generate_series(0, 63) AS u(i)),
         |e AS (SELECT vec_id, unnest(range(64)) AS i, qv FROM q)
         |SELECT e.vec_id, s.j,
         |       CAST(sum(e.qv[CAST(e.i + 1 AS INT)] * s.sgn) AS BIGINT) AS v
         |FROM e JOIN s ON e.i = s.i
         |GROUP BY 1, 2""".stripMargin,
    "quality_lr_calibration" ->
      s"""WITH $lrCtes,
         |sy AS (SELECT s.doc_id, s.score, CASE WHEN tm.t THEN 1 ELSE 0 END AS y
         |       FROM s JOIN tm USING (doc_id)),
         |r AS (SELECT min(score) AS lo, max(score) AS hi FROM sy),
         |b AS (SELECT (score - lo) // ((hi - lo) // 8 + 1) AS bin, y, score
         |      FROM sy, r)
         |SELECT CAST(bin AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(sum(score) AS BIGINT) AS sum_score,
         |  CAST((sum(y) * 1000000) // count(*) AS BIGINT) AS pos_ppm
         |FROM b GROUP BY 1""".stripMargin,
    "quality_lr_score" ->
      s"""WITH $lrCtes
         |SELECT doc_id, score FROM s""".stripMargin,
    // split-conformal threshold: k-th smallest calibration-positive
    // score by rank, held-out pass rates in exact ppm; an
    // under-populated calibration set degrades to the pass-everything
    // sentinel in BOTH engines
    "quality_lr_conformal" ->
      s"""WITH $lrCtes,
         |lb AS (SELECT s.doc_id, s.score,
         |         CASE WHEN tm.t THEN 1 ELSE 0 END AS y,
         |         (${h64("'conf:' || doc_id::VARCHAR")} % 5 = 0) AS cal
         |       FROM s JOIN tm USING (doc_id)),
         |cp AS (SELECT score, doc_id FROM lb WHERE cal AND y = 1),
         |kk AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
         |         CAST((count(*) + 1) * 200000 // 1000000 AS BIGINT) AS k
         |       FROM cp),
         |rk AS (SELECT score,
         |         row_number() OVER (ORDER BY score ASC, doc_id ASC) AS rn
         |       FROM cp),
         |th AS (SELECT coalesce(max(score),
         |         CAST(-9223372036854775807 - 1 AS BIGINT)) AS thresh
         |       FROM rk, kk WHERE rn <= kk.k),
         |ev AS (SELECT y, score FROM lb WHERE NOT cal)
         |SELECT kk.n_cal, kk.k AS k_rank, th.thresh AS thresh_score,
         |  CAST(sum(y) AS BIGINT) AS n_eval_pos,
         |  CAST(sum(CASE WHEN y = 1 AND score >= th.thresh
         |    THEN 1 ELSE 0 END) AS BIGINT) AS pos_pass,
         |  CAST(CASE WHEN sum(y) > 0 THEN
         |    sum(CASE WHEN y = 1 AND score >= th.thresh THEN 1 ELSE 0 END)
         |      * 1000000 // sum(y) END AS BIGINT) AS pos_pass_ppm,
         |  CAST(sum(1 - y) AS BIGINT) AS n_eval_neg,
         |  CAST(sum(CASE WHEN y = 0 AND score >= th.thresh
         |    THEN 1 ELSE 0 END) AS BIGINT) AS neg_pass,
         |  CAST(CASE WHEN sum(1 - y) > 0 THEN
         |    sum(CASE WHEN y = 0 AND score >= th.thresh THEN 1 ELSE 0 END)
         |      * 1000000 // sum(1 - y) END AS BIGINT) AS neg_pass_ppm
         |FROM ev, kk, th
         |GROUP BY 1, 2, 3""".stripMargin,
    // the composed conformal deployment chain: labeled subset, train
    // on labeled-outside-the-fifth (LEFT join to the weight table —
    // unseen feature buckets score 0), k-th-rank threshold, the
    // coalesce(score, 0) keep rule over the corpus + planted NULL doc,
    // and the held-out coverage readout
    "pipeline_conformal_corpus" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents
         |           UNION ALL SELECT 990001 AS doc_id, NULL AS text),
         |nt AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM d),
         |feats AS (
         |  SELECT doc_id, unnest(ws) AS feat FROM nt
         |  UNION ALL
         |  SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i+1 AS INT)] AS feat
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM nt)),
         |cnt AS (SELECT doc_id, ${h64("feat")} % 256 AS f, count(*) AS x
         |        FROM feats GROUP BY 1, 2),
         |lab AS (SELECT doc_id,
         |          CASE WHEN doc_id % 3 = 0 AND list_contains(ws, 'join')
         |            THEN 1 ELSE 0 END AS y,
         |          (${h64("'conf:' || doc_id::VARCHAR")} % 5 = 0) AS cal
         |        FROM nt WHERE doc_id % 7 < 3),
         |tr AS (SELECT doc_id, y FROM lab WHERE NOT cal),
         |ntr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
         |g AS (SELECT c.f, CAST(sum(c.x * (1000000 * t.y - 500000)) AS BIGINT) AS g
         |      FROM cnt c JOIN tr t USING (doc_id) GROUP BY 1),
         |w AS (SELECT f, CAST(round(CAST(g AS DOUBLE) / (2.0 * ntr.n)) AS BIGINT) AS wq
         |      FROM g, ntr),
         |s AS (SELECT c.doc_id, CAST(sum(c.x * coalesce(w.wq, 0)) AS BIGINT) AS score
         |      FROM cnt c LEFT JOIN w USING (f) GROUP BY 1),
         |cp AS (SELECT s.score, s.doc_id FROM s JOIN lab USING (doc_id)
         |       WHERE lab.cal AND lab.y = 1),
         |kk AS (SELECT CAST((count(*) + 1) * 200000 // 1000000 AS BIGINT) AS k
         |       FROM cp),
         |rk AS (SELECT score,
         |         row_number() OVER (ORDER BY score ASC, doc_id ASC) AS rn
         |       FROM cp),
         |th AS (SELECT coalesce(max(score),
         |         CAST(-9223372036854775807 - 1 AS BIGINT)) AS thresh
         |       FROM rk, kk WHERE rn <= kk.k),
         |kept AS (SELECT d.doc_id, d.text FROM d LEFT JOIN s USING (doc_id), th
         |         WHERE coalesce(s.score, 0) >= th.thresh),
         |ks AS (SELECT CAST(count(*) AS BIGINT) AS n_kept,
         |         bit_xor(${h64("doc_id::VARCHAR || ':' || md5(coalesce(text, ''))")})
         |           AS kept_xor,
         |         CAST(sum(CASE WHEN doc_id = 990001 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS null_doc_kept
         |       FROM kept),
         |ev AS (SELECT lab.doc_id FROM lab WHERE NOT cal AND y = 1),
         |cv AS (SELECT CAST(count(*) AS BIGINT) AS n_eval_pos,
         |         CAST(count(k2.doc_id) AS BIGINT) AS pos_pass
         |       FROM ev LEFT JOIN kept k2 USING (doc_id))
         |SELECT ks.n_kept, ks.kept_xor, ks.null_doc_kept,
         |  cv.n_eval_pos, cv.pos_pass,
         |  CAST(CASE WHEN cv.n_eval_pos > 0
         |    THEN cv.pos_pass * 1000000 // cv.n_eval_pos END AS BIGINT)
         |    AS coverage_ppm
         |FROM ks, cv""".stripMargin,
    "quality_lr_eval" ->
      s"""WITH $lrCtes,
         |st AS (SELECT CAST(sum(score) AS BIGINT) AS stot,
         |              CAST(count(*) AS BIGINT) AS ns FROM s)
         |SELECT cnt2.y, CASE WHEN s.score * st.ns > st.stot THEN 1 ELSE 0 END AS pred,
         |       CAST(count(*) AS BIGINT) AS n_docs
         |FROM s JOIN (SELECT DISTINCT doc_id, y FROM cnt) cnt2 USING (doc_id), st
         |GROUP BY 1, 2""".stripMargin,
    "text_pmi" ->
      s"""WITH w AS (SELECT string_split($norm, ' ') AS ws FROM documents),
         |pos AS (SELECT ws, unnest(range(len(ws))) AS i FROM w),
         |ctx AS (SELECT ws, i,
         |          unnest(range(greatest(0, i - 2), least(len(ws) - 1, i + 2) + 1)) AS j
         |        FROM pos),
         |pair AS (SELECT ws[CAST(i + 1 AS INT)] AS center,
         |                ws[CAST(j + 1 AS INT)] AS context
         |         FROM ctx WHERE j != i),
         |cm AS (SELECT center, context, count(*) AS cnt
         |       FROM pair GROUP BY 1, 2 HAVING count(*) >= 5),
         |ma AS (SELECT center AS a, CAST(sum(cnt) AS BIGINT) AS m_a FROM cm GROUP BY 1),
         |mb AS (SELECT context AS b, CAST(sum(cnt) AS BIGINT) AS m_b FROM cm GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM cm)
         |SELECT cm.center AS a, cm.context AS b, CAST(cm.cnt AS BIGINT) AS cnt,
         |       CAST(round(ln(CAST(cm.cnt AS DOUBLE) * CAST(tot.t AS DOUBLE)
         |         / (CAST(ma.m_a AS DOUBLE) * CAST(mb.m_b AS DOUBLE))) * 1e6) AS BIGINT) AS pmi_micro
         |FROM cm JOIN ma ON cm.center = ma.a JOIN mb ON cm.context = mb.b, tot""".stripMargin,
    "pipeline_train_corpus" ->
      s"""WITH nt AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
         |feats AS (
         |  SELECT doc_id, unnest(ws) AS feat FROM nt
         |  UNION ALL
         |  SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i+1 AS INT)] AS feat
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM nt)),
         |tm AS (SELECT doc_id, doc_id % 3 = 0 AND list_contains(ws, 'join') AS t
         |       FROM nt),
         |fcnt AS (SELECT fx.doc_id, CASE WHEN t THEN 1 ELSE 0 END AS y,
         |                ${h64("feat")} % 256 AS f, count(*) AS x
         |         FROM feats fx JOIN tm USING (doc_id) GROUP BY 1, 2, 3),
         |nn AS (SELECT count(*) AS n FROM documents),
         |g AS (SELECT f, CAST(sum(x * (1000000 * y - 500000)) AS BIGINT) AS g
         |      FROM fcnt GROUP BY 1),
         |w AS (SELECT f, CAST(round(CAST(g AS DOUBLE) / (2.0 * nn.n)) AS BIGINT) AS wq
         |      FROM g, nn),
         |sc AS (SELECT fcnt.doc_id, CAST(sum(x * wq) AS BIGINT) AS score
         |       FROM fcnt JOIN w USING (f) GROUP BY 1),
         |st AS (SELECT CAST(sum(score) AS BIGINT) AS ts,
         |              CAST(count(*) AS BIGINT) AS nd FROM sc),
         |kw AS (SELECT nt.doc_id, nt.ws FROM nt
         |       JOIN sc ON nt.doc_id = sc.doc_id, st
         |       WHERE sc.score * st.nd > st.ts),
         |win AS (SELECT doc_id, unnest(range(len(ws) - 7)) AS s, ws
         |        FROM kw WHERE len(ws) >= 8),
         |wh AS (SELECT doc_id, s,
         |         md5(array_to_string(list_slice(ws, CAST(s+1 AS INT), CAST(s+8 AS INT)), ' ')) AS h
         |       FROM win),
         |wc AS (SELECT h, count(*) AS c FROM wh GROUP BY 1),
         |bad AS (SELECT wh.doc_id, wh.s FROM wh JOIN wc USING (h) WHERE wc.c > 1),
         |cov AS (SELECT DISTINCT doc_id, p FROM
         |          (SELECT doc_id, unnest(range(s, s + 8)) AS p FROM bad)),
         |tp AS (SELECT doc_id, unnest(range(len(ws))) AS p FROM kw),
         |kt AS (SELECT tp.doc_id, tp.p
         |       FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.p
         |       WHERE cov.p IS NULL),
         |dd AS (SELECT doc_id, count(*) AS n_tokens_kept FROM kt GROUP BY 1),
         |sk AS (SELECT doc_id, n_tokens_kept,
         |         ${h64("'graft:shard:' || doc_id::VARCHAR")} AS k
         |       FROM dd)
         |SELECT doc_id, n_tokens_kept, k % 8 AS shard,
         |       row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) - 1 AS pos
         |FROM sk""".stripMargin,
    "text_cooccurrence" ->
      s"""WITH w AS (SELECT string_split($norm, ' ') AS ws FROM documents),
         |pos AS (SELECT ws, unnest(range(len(ws))) AS i FROM w),
         |ctx AS (SELECT ws, i,
         |          unnest(range(greatest(0, i - 2), least(len(ws) - 1, i + 2) + 1)) AS j
         |        FROM pos),
         |pair AS (SELECT ws[CAST(i + 1 AS INT)] AS center,
         |                ws[CAST(j + 1 AS INT)] AS context
         |         FROM ctx WHERE j != i)
         |SELECT center, context, count(*) AS cnt
         |FROM pair GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,
    "text_tfidf" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS term
         |           FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
         |       WHERE len(term) > 0 GROUP BY 1, 2),
         |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |s AS (SELECT tf.doc_id, tf.term,
         |        tf.tf * CAST(round(ln(CAST(n.n AS DOUBLE) / CAST(dft.df AS DOUBLE)) * 1e6) AS BIGINT) AS score
         |      FROM tf JOIN dft USING (term), n)
         |SELECT doc_id, CAST(row_number() OVER (
         |         PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank,
         |       term, score
         |FROM s QUALIFY rank <= 5""".stripMargin,
    "bpe_top_pairs" ->
      s"""WITH wf AS (SELECT word, count(*) AS freq FROM
         |              (SELECT unnest(string_split($norm, ' ')) AS word FROM documents)
         |            WHERE len(word) > 0 GROUP BY 1),
         |s AS (SELECT freq, string_split(word, '') AS syms FROM wf),
         |px AS (SELECT freq, unnest(range(1, len(syms))) AS i, syms
         |       FROM s WHERE len(syms) >= 2),
         |p AS (SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i + 1 AS INT)] AS b, freq
         |      FROM px)
         |SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
         |FROM p GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 50""".stripMargin,
    "wordpiece_encode" ->
      s"""WITH RECURSIVE
         |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM
         |         (SELECT unnest(string_split($norm, ' ')) AS word FROM documents)
         |       WHERE len(word) > 0 GROUP BY 1),
         |chars AS (SELECT DISTINCT unnest(string_split(word, '')) AS c FROM wf),
         |topw AS (SELECT word AS p FROM wf ORDER BY freq DESC, word ASC LIMIT 32),
         |vv AS (SELECT
         |         (SELECT list(p) FROM (SELECT p FROM topw UNION SELECT c FROM chars)) AS iv,
         |         (SELECT list(c) FROM chars) AS cv),
         |rec AS (
         |  SELECT word, freq, 0 AS pos, '' AS seg, 0 AS np FROM wf
         |  UNION ALL
         |  SELECT word, freq, pos + len(bp),
         |    CASE WHEN pos = 0 THEN bp ELSE seg || ' ##' || bp END,
         |    np + 1
         |  FROM (
         |    SELECT r.word, r.freq, r.pos, r.seg, r.np,
         |      (list_sort(list_filter(list_transform(
         |          CASE WHEN r.pos = 0 THEN v.iv ELSE v.cv END,
         |          p -> struct_pack(nl := -len(p), p := p)),
         |        s -> substr(r.word, r.pos + 1, len(s.p)) = s.p)))[1].p AS bp
         |    FROM rec r, vv v WHERE r.pos < len(r.word))
         |)
         |SELECT word, freq, CAST(np AS BIGINT) AS n_pieces, seg
         |FROM rec WHERE pos = len(word)""".stripMargin,
    "bpe_encode" ->
      s"""WITH RECURSIVE
         |$bpeEncCte
         |SELECT word, CAST(freq AS BIGINT) AS freq,
         |       CAST(len(syms) AS BIGINT) AS n_tokens,
         |       array_to_string(syms, ' ') AS seg
         |FROM f1""".stripMargin,
    "text_bm25" ->
      s"""WITH ${bm25Ctes("doc_id % 100 = 0")}
         |SELECT query_id, doc_id,
         |       CAST(row_number() OVER (PARTITION BY query_id
         |         ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank,
         |       score_micro
         |FROM agg QUALIFY rank <= 5""".stripMargin,
    "text_rrf" ->
      s"""WITH ${bm25Ctes(
              "doc_id % 100 = 0 AND doc_id IN (SELECT vec_id FROM embeddings)")},
         |$qPrep,
         |lex AS (SELECT query_id, doc_id,
         |          CAST(row_number() OVER (PARTITION BY query_id
         |            ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
         |        FROM agg WHERE doc_id <> query_id
         |        QUALIFY rank <= $RRF_KEACH),
         |sem AS (SELECT qq.vec_id AS query_id, x.vec_id AS doc_id,
         |          CAST(row_number() OVER (PARTITION BY qq.vec_id ORDER BY
         |            CAST(list_sum(list_transform(list_zip(x.qv, qq.qv), z -> z[1] * z[2])) AS DOUBLE)
         |            / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(qq.n2 AS DOUBLE))) DESC,
         |            x.vec_id ASC) AS BIGINT) AS rank
         |        FROM n x JOIN n qq ON qq.vec_id % 100 = 0 AND x.vec_id <> qq.vec_id
         |        QUALIFY rank <= $RRF_KEACH),
         |u AS (SELECT query_id, doc_id, 1000000 // (60 + rank) AS contrib FROM lex
         |      UNION ALL
         |      SELECT query_id, doc_id, 1000000 // (60 + rank) FROM sem),
         |f AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_lists,
         |        CAST(sum(contrib) AS BIGINT) AS rrf_micro
         |      FROM u GROUP BY 1, 2)
         |SELECT query_id, doc_id,
         |       CAST(row_number() OVER (PARTITION BY query_id
         |         ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS fused_rank,
         |       n_lists, rrf_micro
         |FROM f QUALIFY fused_rank <= 10""".stripMargin,
    "bpe_encode_docs" ->
      s"""WITH RECURSIVE
         |$bpeEncCte,
         |dw AS (SELECT doc_id, word FROM
         |         (SELECT doc_id, unnest(string_split($norm, ' ')) AS word
         |          FROM documents)
         |       WHERE len(word) > 0)
         |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(len(f1.syms)) AS BIGINT) AS bpe_tokens
         |FROM dw JOIN f1 USING (word) GROUP BY 1""".stripMargin,
    "tokenizer_compare" ->
      s"""WITH RECURSIVE
         |$bpeEncCte,
         |dw AS (SELECT doc_id, word FROM
         |         (SELECT doc_id, unnest(string_split($norm, ' ')) AS word
         |          FROM documents)
         |       WHERE len(word) > 0),
         |de AS (SELECT dw.doc_id, CAST(sum(len(f1.syms)) AS BIGINT) AS bpe
         |       FROM dw JOIN f1 USING (word) GROUP BY 1),
         |dd AS (SELECT doc_id, source, length($norm)::BIGINT AS chars,
         |         len(string_split($norm, ' '))::BIGINT AS ws
         |       FROM documents),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(chars) AS BIGINT) AS chars,
         |        CAST(sum(ws) AS BIGINT) AS ws_tokens,
         |        CAST(sum(coalesce(de.bpe, 0)) AS BIGINT) AS bpe_tokens
         |      FROM dd LEFT JOIN de USING (doc_id) GROUP BY 1)
         |SELECT source, n_docs, chars, ws_tokens, bpe_tokens,
         |  CAST((chars * 1000) // greatest(bpe_tokens, 1) AS BIGINT)
         |    AS chars_per_bpe_milli,
         |  CAST((bpe_tokens * 1000) // greatest(ws_tokens, 1) AS BIGINT)
         |    AS fertility_milli
         |FROM g""".stripMargin,
    "sample_stratified" ->
      s"""SELECT event_id, user_id, event_type FROM events
         |WHERE ${h64("'graft:' || event_id::VARCHAR")} % 10000 <
         |  CAST((CASE event_type WHEN 'click' THEN 0.5 WHEN 'purchase' THEN 1.0
         |        WHEN 'error' THEN 0.0 ELSE 0.1 END) * 10000 AS BIGINT)""".stripMargin,
    "emb_kmeans_init" ->
      s"""WITH $qPrep,
         |init AS (SELECT qv, row_number() OVER (
         |           ORDER BY ${h64("vec_id::VARCHAR")}, vec_id) - 1 AS cid
         |         FROM q QUALIFY cid < 8),
         |c AS (SELECT cid, qv AS cqv,
         |        CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS cn2 FROM init),
         |asg AS (SELECT v.vec_id AS id, c.cid,
         |          CASE WHEN c.cn2 = 0 OR v.n2 = 0 THEN -2.0
         |               ELSE CAST(list_sum(list_transform(
         |                      list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |                    / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))
         |          END AS ccos
         |        FROM n v, c)
         |SELECT id, cluster, round(ccos, 6) AS centroid_cosine FROM (
         |  SELECT id, cid AS cluster, ccos,
         |    row_number() OVER (PARTITION BY id
         |                       ORDER BY ccos DESC, cid ASC) AS rn
         |  FROM asg) WHERE rn = 1""".stripMargin,
    "ann_ivf_assign" ->
      s"""WITH $qPrep,
         |init AS (SELECT qv, row_number() OVER (
         |           ORDER BY ${h64("vec_id::VARCHAR")}, vec_id) - 1 AS cid
         |         FROM q WHERE vec_id % 2 = 0 QUALIFY cid < 8),
         |c AS (SELECT cid, qv AS cqv,
         |        CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS cn2 FROM init),
         |asg AS (SELECT v.vec_id AS id, v.vec_id % 2 AS batch, c.cid,
         |          CASE WHEN c.cn2 = 0 OR v.n2 = 0 THEN -2.0
         |               ELSE CAST(list_sum(list_transform(
         |                      list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |                    / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))
         |          END AS ccos
         |        FROM n v, c)
         |SELECT id, batch, cluster, round(ccos, 6) AS centroid_cosine FROM (
         |  SELECT id, batch, cid AS cluster, ccos,
         |    row_number() OVER (PARTITION BY id
         |                       ORDER BY ccos DESC, cid ASC) AS rn
         |  FROM asg) WHERE rn = 1""".stripMargin,
    "ann_ivf_search" ->
      s"""WITH $qPrep,
         |init AS (SELECT qv, row_number() OVER (
         |           ORDER BY ${h64("vec_id::VARCHAR")}, vec_id) - 1 AS cid
         |         FROM q WHERE vec_id % 2 = 0 QUALIFY cid < 8),
         |cents AS (SELECT cid, qv AS cqv,
         |        CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS cn2 FROM init),
         |asg AS (SELECT vec_id, qv, n2, cid FROM (
         |   SELECT v.vec_id, v.qv, v.n2, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CASE WHEN c.cn2 = 0 OR v.n2 = 0 THEN -2.0
         |            ELSE CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |                 / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) END DESC,
         |       c.cid ASC) AS rn
         |   FROM n v, cents c) WHERE rn = 1),
         |probes AS (SELECT qid, qqv, qn2, cid FROM (
         |   SELECT v.vec_id AS qid, v.qv AS qqv, v.n2 AS qn2, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CASE WHEN c.cn2 = 0 OR v.n2 = 0 THEN -2.0
         |            ELSE CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |                 / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) END DESC,
         |       c.cid ASC) AS pr
         |   FROM n v, cents c WHERE v.vec_id % 100 = 0) WHERE pr <= 2)
         |SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine FROM (
         |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
         |    CASE WHEN p.qn2 = 0 OR a.n2 = 0 THEN -2.0
         |         ELSE CAST(list_sum(list_transform(list_zip(p.qqv, a.qv), z -> z[1]*z[2])) AS DOUBLE)
         |              / (sqrt(CAST(p.qn2 AS DOUBLE))*sqrt(CAST(a.n2 AS DOUBLE))) END AS cosine,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      CASE WHEN p.qn2 = 0 OR a.n2 = 0 THEN -2.0
         |           ELSE CAST(list_sum(list_transform(list_zip(p.qqv, a.qv), z -> z[1]*z[2])) AS DOUBLE)
         |                / (sqrt(CAST(p.qn2 AS DOUBLE))*sqrt(CAST(a.n2 AS DOUBLE))) END DESC,
         |      a.vec_id ASC) AS rank
         |  FROM probes p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid)
         |WHERE rank <= 5""".stripMargin,
    // per-cell balance over the replayed init assignment (empty
    // cells via the centroid left join)
    "ann_ivf_stats" ->
      s"""WITH $qPrep,
         |init AS (SELECT qv, row_number() OVER (
         |           ORDER BY ${h64("vec_id::VARCHAR")}, vec_id) - 1 AS cid
         |         FROM q WHERE vec_id % 2 = 0 QUALIFY cid < 8),
         |cents AS (SELECT cid, qv AS cqv,
         |        CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS cn2 FROM init),
         |asg AS (SELECT vec_id, cid FROM (
         |   SELECT v.vec_id, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CASE WHEN c.cn2 = 0 OR v.n2 = 0 THEN -2.0
         |            ELSE CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |                 / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) END DESC,
         |       c.cid ASC) AS rn
         |   FROM n v, cents c) WHERE rn = 1),
         |pc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vectors
         |      FROM asg GROUP BY 1),
         |cells AS (SELECT c.cid, coalesce(n_vectors, 0) AS n_vectors
         |      FROM cents c LEFT JOIN pc USING (cid)),
         |t AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
         |        CAST(count(*) AS BIGINT) AS k FROM cells)
         |SELECT cid, CAST(n_vectors AS BIGINT) AS n_vectors,
         |  CAST(n_vectors * 1000000 // greatest(total, 1) AS BIGINT) AS share_ppm,
         |  CAST(n_vectors * k * 1000000 // greatest(total, 1) AS BIGINT) AS load_ppm
         |FROM cells, t""".stripMargin,
    // ann_ivf_search's replay over the SURVIVING corpus: every 10th
    // vector is tombstoned, so it must vanish from every result list
    "ann_ivf_delete" ->
      s"""WITH $qPrep,
         |init AS (SELECT qv, row_number() OVER (
         |           ORDER BY ${h64("vec_id::VARCHAR")}, vec_id) - 1 AS cid
         |         FROM q WHERE vec_id % 2 = 0 QUALIFY cid < 8),
         |cents AS (SELECT cid, qv AS cqv,
         |        CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS cn2 FROM init),
         |asg AS (SELECT vec_id, qv, n2, cid FROM (
         |   SELECT v.vec_id, v.qv, v.n2, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CASE WHEN c.cn2 = 0 OR v.n2 = 0 THEN -2.0
         |            ELSE CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |                 / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) END DESC,
         |       c.cid ASC) AS rn
         |   FROM n v, cents c) WHERE rn = 1 AND vec_id % 10 <> 0),
         |probes AS (SELECT qid, qqv, qn2, cid FROM (
         |   SELECT v.vec_id AS qid, v.qv AS qqv, v.n2 AS qn2, c.cid,
         |     row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |       CASE WHEN c.cn2 = 0 OR v.n2 = 0 THEN -2.0
         |            ELSE CAST(list_sum(list_transform(list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |                 / (sqrt(CAST(v.n2 AS DOUBLE))*sqrt(CAST(c.cn2 AS DOUBLE))) END DESC,
         |       c.cid ASC) AS pr
         |   FROM n v, cents c WHERE v.vec_id % 100 = 0) WHERE pr <= 2)
         |SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine FROM (
         |  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
         |    CASE WHEN p.qn2 = 0 OR a.n2 = 0 THEN -2.0
         |         ELSE CAST(list_sum(list_transform(list_zip(p.qqv, a.qv), z -> z[1]*z[2])) AS DOUBLE)
         |              / (sqrt(CAST(p.qn2 AS DOUBLE))*sqrt(CAST(a.n2 AS DOUBLE))) END AS cosine,
         |    row_number() OVER (PARTITION BY p.qid ORDER BY
         |      CASE WHEN p.qn2 = 0 OR a.n2 = 0 THEN -2.0
         |           ELSE CAST(list_sum(list_transform(list_zip(p.qqv, a.qv), z -> z[1]*z[2])) AS DOUBLE)
         |                / (sqrt(CAST(p.qn2 AS DOUBLE))*sqrt(CAST(a.n2 AS DOUBLE))) END DESC,
         |      a.vec_id ASC) AS rank
         |  FROM probes p JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.qid)
         |WHERE rank <= 5""".stripMargin,
    "dedup_semantic_init" ->
      s"""WITH $qPrep,
         |init AS (SELECT qv, row_number() OVER (
         |           ORDER BY ${h64("vec_id::VARCHAR")}, vec_id) - 1 AS cid
         |         FROM q QUALIFY cid < 8),
         |c AS (SELECT cid, qv AS cqv,
         |        CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS cn2 FROM init),
         |asg AS (SELECT id, cluster, qv, n2 FROM (
         |  SELECT v.vec_id AS id, c.cid AS cluster, v.qv, v.n2,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      CASE WHEN c.cn2 = 0 OR v.n2 = 0 THEN -2.0
         |           ELSE CAST(list_sum(list_transform(
         |                  list_zip(v.qv, c.cqv), z -> z[1]*z[2])) AS DOUBLE)
         |                / (sqrt(CAST(v.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))
         |      END DESC, c.cid ASC) AS rn
         |  FROM n v, c) WHERE rn = 1)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  round(CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1]*z[2])) AS DOUBLE)
         |        / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))), 6) AS cosine
         |FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id < b.id
         |WHERE CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1]*z[2])) AS DOUBLE)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= $COS_T""".stripMargin,
    "ann_pq" ->
      s"""WITH $qPrep,
         |init AS (SELECT qv, row_number() OVER (
         |           ORDER BY ${h64("vec_id::VARCHAR")}, vec_id) - 1 AS cid
         |         FROM q QUALIFY cid < 16),
         |cb AS (SELECT cid, s AS sub, list_slice(qv, s*8+1, s*8+8) AS cqv
         |       FROM init, range(8) t(s)),
         |cbn AS (SELECT cid, sub, cqv,
         |          CAST(list_sum(list_transform(cqv, x -> x*x)) AS BIGINT) AS cn2 FROM cb),
         |subs AS (SELECT vec_id AS id, s AS sub, list_slice(qv, s*8+1, s*8+8) AS sv
         |         FROM q, range(8) t(s)),
         |subn AS (SELECT id, sub, sv,
         |           CAST(list_sum(list_transform(sv, x -> x*x)) AS BIGINT) AS sn2 FROM subs),
         |asg AS (SELECT id, sub, cid AS code FROM (
         |          SELECT v.id, v.sub, c.cid,
         |            row_number() OVER (PARTITION BY v.id, v.sub
         |              ORDER BY v.sn2 + c.cn2 - 2 * CAST(list_sum(list_transform(
         |                         list_zip(v.sv, c.cqv), z -> z[1]*z[2])) AS BIGINT) ASC,
         |                       c.cid ASC) AS rn
         |          FROM subn v JOIN cbn c ON c.sub = v.sub) WHERE rn = 1),
         |qtab AS (SELECT v.id AS query_id, v.sub, c.cid AS code,
         |           v.sn2 + c.cn2 - 2 * CAST(list_sum(list_transform(
         |             list_zip(v.sv, c.cqv), z -> z[1]*z[2])) AS BIGINT) AS qdist
         |         FROM subn v JOIN cbn c ON c.sub = v.sub
         |         WHERE v.id % 100 = 0),
         |nd AS (SELECT t.query_id, e.id AS neighbor_id,
         |         CAST(sum(t.qdist) AS BIGINT) AS adist
         |       FROM asg e JOIN qtab t ON t.sub = e.sub AND t.code = e.code
         |       WHERE e.id <> t.query_id
         |       GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, rank, adist FROM (
         |  SELECT query_id, neighbor_id, adist,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY adist ASC, neighbor_id ASC) AS rank
         |  FROM nd) WHERE rank <= 5""".stripMargin,
    "ann_cascade" ->
      s"""WITH $qPrep,
         |$cascadeCtes
         |SELECT query_id, neighbor_id, rank, cosine FROM casc""".stripMargin,
    "ann_recall_cascade" ->
      s"""WITH $qPrep,
         |$cascadeCtes,
         |exact AS (
         |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      CAST(list_sum(list_transform(list_zip(x.qv, q.qv), z -> z[1] * z[2])) AS DOUBLE)
         |      / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(q.n2 AS DOUBLE))) DESC, x.vec_id ASC) AS rank
         |  FROM n x JOIN n q ON q.vec_id % 100 = 0 AND x.vec_id <> q.vec_id
         |  QUALIFY rank <= 5)
         |SELECT e.query_id, count(*) AS n_exact,
         |       CAST(coalesce(sum(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 END), 0)
         |         AS BIGINT) AS n_hits
         |FROM exact e LEFT JOIN casc c USING (query_id, neighbor_id)
         |GROUP BY 1""".stripMargin,
    "text_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(string_split($norm, ' ')) AS BIGINT) AS n_tokens,
         |    CAST(${h64("doc_id::VARCHAR")} % 8 AS INT) AS shard
         |  FROM documents)
         |SELECT doc_id, n_tokens, shard,
         |  CAST(coalesce(sum(n_tokens) OVER (
         |    PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1024
         |    AS BIGINT) AS pack_id
         |FROM t""".stripMargin,
    "pack_efficiency" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(string_split($norm, ' ')) AS BIGINT) AS n_tokens,
         |    CAST(${h64("doc_id::VARCHAR")} % 8 AS INT) AS shard
         |  FROM documents),
         |p AS (SELECT doc_id, n_tokens, shard,
         |  CAST(coalesce(sum(n_tokens) OVER (
         |    PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1024
         |    AS BIGINT) AS pack_id
         |  FROM t)
         |SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  CAST(sum(n_tokens) * 1000000 // 1024 AS BIGINT) AS util_ppm
         |FROM p GROUP BY 1, 2""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id, md5(nt) AS content_hash,
         |  md5(array_to_string(list_sort(list_distinct(string_split(nt, ' '))), ' ')) AS bag_hash,
         |  md5(substr(nt, 1, 64)) AS prefix_hash
         |FROM (SELECT doc_id, $norm AS nt FROM documents)""".stripMargin)
}
