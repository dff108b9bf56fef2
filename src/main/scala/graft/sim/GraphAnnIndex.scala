package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Persisted incremental GRAPH-ANN index — the ingestion-time form of
  * [[Similarity.nnDescent]] + [[Similarity.graphSearch]] (which
  * re-derive the k-NN graph per run; fine for one-shot queries,
  * wasteful for a continuously-fed corpus where the graph BUILD
  * dominates the search 30:1 at scale — the PERF 100× stress
  * measured build:search = 33:1 on the in-gate path). The IvfIndex
  * lifecycle discipline (persist / O(batch) append / tombstone
  * delete / crash-drilled vacuum), applied to the HNSW-lineage graph
  * family.
  *
  * Store layout (all parquet under `store`, the near-dup store
  * discipline — streaming/CdcStream.scala:134):
  *   - `nodes/gb=<k>/batch=<id>/` — (id, qv, n2): every indexed
  *     vector in the file-wide floor(x·10⁴) quantization, bucketed by
  *     gb = portable-hash(id) mod nStoreBuckets. The node table IS
  *     what the beam scores against, so the vectors live in the
  *     store (the graphSearch design), not in a side table.
  *   - `edges/gb=<k>/batch=<id>/` — (id, nid, cos): the k-NN graph's
  *     directed adjacency, bucketed by the SOURCE id's hash.
  *     `batch=<id>` dynamic-partition overwrite makes a replayed
  *     ingestion rewrite exactly its own directories (at-least-once
  *     safe); the bucket-count marker refuses a mismatched reader.
  *   - `tombs/batch=<id>/` — pending id tombstones ([[delete]]).
  *
  * [[insert]] is the HNSW add path at batch grain: the new vectors
  * beam-SEARCH the existing graph for their neighbors (probe-grain —
  * the corpus is never self-joined), connect to their exact-cosine
  * top `connectK`, and append those forward edges plus the reverse
  * edges O(batch) — the long-range navigability the seed nnDescent
  * graph provides is reused, never rebuilt. Every read [[insert]]
  * does EXCLUDES versions ≥ its own batchId (the exclude-own-writes
  * discipline, so an at-least-once redelivery recomputes identical
  * edges instead of searching a graph polluted by its own first
  * attempt); batch ids must be assigned monotonically, as a
  * streaming feed does. Within one batch, members link only to the
  * pre-batch graph (deterministic, order-free — the batch analogue
  * of HNSW's insert-sees-prior-state contract).
  *
  * Scale shape: build = one nnDescent over the seed (id-keyed
  * shuffles only); insert = one beam search at |batch| probe grain
  * (the beam broadcasts against the edge table, scoring joins the
  * node table on its id key) + an O(batch·k) partitioned write;
  * search = [[Similarity.graphSearch]]'s probe-grain cost against
  * the store. Only [[vacuum]] touches affected buckets wholesale,
  * and only tombstoned buckets at that.
  *
  * Deletion contract: a tombstoned id is dropped from the node table
  * at search time (broadcast anti-join), which removes it from entry
  * sets, from every beam (an unscored node never enters the beam, so
  * its out-edges never expand), and from results — fully invisible,
  * not merely filtered from the answer. The edges POINTING AT it
  * stay until [[vacuum]] folds them out; they cost one dead frontier
  * candidate per expansion, never a wrong result. Heavily deleted
  * neighborhoods lose navigability until re-inserted traffic or a
  * seed [[build]] re-links them — the honest limit of tombstone
  * deletion in any HNSW-family store (FAISS rebuilds; Milvus
  * compacts), documented rather than hidden.
  *
  * Reference behavior coverage: erkkah/sslr keeps no vector indexes;
  * this is part of the LLM-pipeline surface (SURVEY §2.C), the
  * persisted sibling of C7q/C7u (r15 verdict, Next round #1).
  */
object GraphAnnIndex {

  import Similarity.{prepared, beamSearch}

  private def nodesPath(store: String) = s"$store/nodes"
  private def edgesPath(store: String) = s"$store/edges"
  private def tombsPath(store: String) = s"$store/tombs"

  private def bucketOf(idc: Column, nB: Int): Column =
    pmod(graft.util.Hashing.portableHash64(idc.cast("string")),
      lit(nB.toLong)).cast("int")

  /** Build the index from a seed corpus: one [[Similarity.nnDescent]]
    * construction persisted as `batch=0` of both stores. Clears any
    * prior contents (a re-partitioning of the graph must not leave
    * stale batch dirs alive). Deterministic end-to-end — the gate's
    * DuckDB oracle replays it.
    */
  def build(spark: SparkSession, seed: DataFrame, vecCol: String,
            idCol: String, k: Int, iters: Int, buckets: Int, dim: Int,
            store: String, nStoreBuckets: Int,
            diversify: Boolean = false): Unit = {
    graft.util.Fs.delete(spark, nodesPath(store))
    graft.util.Fs.delete(spark, edgesPath(store))
    graft.util.Fs.delete(spark, tombsPath(store))
    // diversify: pay the build-time occlusion prune exactly here — a
    // PERSISTED graph is queried repeatedly, so recall-per-edge
    // amortizes (the CLUSTER.md doctrine); gates keep the default
    val graph = Similarity.nnDescent(seed, vecCol, idCol, k, iters,
      buckets, Some(dim), diversify)
      .select(col("vec_id").as("id"), col("neighbor_id").as("nid"),
        col("cosine").as("cos"))
    val nodes = prepared(seed.filter(col(vecCol).isNotNull &&
      size(col(vecCol)) === dim), vecCol, idCol)
    // the two store writes are independent (disjoint paths, no shared
    // mutable lineage) — overlap them so the edge write's tasks
    // back-fill the node write's tail (guide §2.6)
    graft.util.Par.run(
      graft.streaming.CdcStream.writeStorePartitions(
        nodes, bucketOf(col("id"), nStoreBuckets), 0L,
        nodesPath(store), nStoreBuckets),
      graft.streaming.CdcStream.writeStorePartitions(
        graph, bucketOf(col("id"), nStoreBuckets), 0L,
        edgesPath(store), nStoreBuckets))
  }

  private def storeBuckets(spark: SparkSession, store: String): Int =
    graft.cdc.BucketedLayout.readBucketCount(spark, nodesPath(store))
      .getOrElse(throw new IllegalStateException(
        s"$store has no node store yet — build() it first"))

  /** The full node table (id, qv, n2) with gb/batch riding along,
    * optionally only versions strictly below `beforeBatch` (the
    * exclude-own-writes read [[insert]] uses). */
  def nodes(spark: SparkSession, store: String,
            beforeBatch: Option[Long] = None): DataFrame = {
    val df = spark.read.option("basePath", nodesPath(store))
      .parquet(nodesPath(store))
    beforeBatch.map(b => df.filter(col("batch") < b)).getOrElse(df)
  }

  /** The full adjacency (id, nid, cos), same version filter. */
  def edges(spark: SparkSession, store: String,
            beforeBatch: Option[Long] = None): DataFrame = {
    val df = spark.read.option("basePath", edgesPath(store))
      .parquet(edgesPath(store))
    beforeBatch.map(b => df.filter(col("batch") < b)).getOrElse(df)
  }

  /** Insert one ingestion batch: each new vector beam-searches the
    * existing (pre-batchId, tombstone-filtered) graph from the fixed
    * hash-seeded entry set, connects to its exact-cosine top
    * `connectK` visited nodes, and the batch's node rows, forward
    * edges, and reverse edges land as `batch=<batchId>` — O(batch)
    * work beyond one scan of the edge table per expansion round; the
    * corpus is never rescanned. Replay-idempotent: the search reads
    * only versions `< batchId`, so a re-delivered batch recomputes
    * the identical rows and overwrites exactly its own (gb, batch)
    * partitions. Returns the batch's forward-edge count.
    */
  def insert(spark: SparkSession, batch: DataFrame, vecCol: String,
             idCol: String, store: String, batchId: Long,
             connectK: Int, entries: Int, beam: Int, rounds: Int,
             dim: Int): Long = {
    require(batchId > 0, s"insert batch ids start at 1 (0 is the seed), got $batchId")
    require(connectK >= 1 && entries >= 1 && beam >= 1 && rounds >= 0,
      s"bad connectK=$connectK entries=$entries beam=$beam rounds=$rounds")
    val nB = storeBuckets(spark, store)
    graft.streaming.CdcStream.requireStoreBuckets(spark, edgesPath(store), nB)
    val live = liveNodes(spark, store, Some(batchId))
    val g = edges(spark, store, Some(batchId))
      .select(col("id").as("vec_id"), col("nid").as("neighbor_id"))
    val pNew = prepared(batch.filter(col(vecCol).isNotNull &&
      size(col(vecCol)) === dim), vecCol, idCol)
    val probes = pNew.select(col("id").as("qid"), col("qv").as("pqv"),
      col("n2").as("pn2"))
    val ent = entrySet(live, entries)
    val visited = beamSearch(live, probes,
      g, probes.select(col("qid")).crossJoin(broadcast(ent)),
      beam, rounds, Some(dim))
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("id").asc)
    // lazy: the edge write materializes + caches it; count() reuses
    val fwd = graft.util.Lineage.truncateLazy(
      visited.withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= connectK)
        .select(col("qid").as("id"), col("id").as("nid"),
          round(col("cos"), 6).as("cos")))
    val rev = fwd.select(col("nid").as("id"), col("id").as("nid"), col("cos"))
    // Overlapped writes to DISJOINT OUTPUT paths (guide §2.6); the
    // edge write materializes fwd's lazy cut, count() then reuses it.
    // The overlap's read-side invariant, stated because a replayed
    // batch makes the node write DELETE+REWRITE gb=*/batch=<batchId>
    // dirs that live under the same store the edge write's lineage
    // (fwd <- beamSearch <- live <- nodesPath) reads: it is safe
    // because (a) `nodes()` partition-prunes to batch < batchId, so
    // the rewritten dirs are outside every file the search may open,
    // and (b) the InMemoryFileIndex snapshots the listing eagerly at
    // DataFrame creation — both before Par.run forks. A future change
    // that relaxes the `beforeBatch` pruning or re-lists lazily must
    // serialize these writes instead (node write first).
    graft.util.Par.run(
      graft.streaming.CdcStream.writeStorePartitions(
        pNew, bucketOf(col("id"), nB), batchId, nodesPath(store), nB),
      graft.streaming.CdcStream.writeStorePartitions(
        fwd.unionByName(rev), bucketOf(col("id"), nB), batchId,
        edgesPath(store), nB))
    fwd.count()
  }

  /** Fixed entry set over a node table: the `entries` smallest
    * (portable-hash("gs:"+id), id) ids — TakeOrdered, no global
    * window; the [[Similarity.graphSearch]] convention so the store
    * path and the in-memory path share one oracle arithmetic. */
  // one oracle arithmetic with the in-memory path (review r16):
  // both gates replay the same "gs:" hash order in DuckDB, so the
  // selection lives in ONE place
  private def entrySet(nodesDf: DataFrame, entries: Int): DataFrame =
    Similarity.entrySet(nodesDf, entries)

  /** The node table minus pending tombstones (broadcast anti-join —
    * the tombstone set is bounded between vacuums). */
  private def liveNodes(spark: SparkSession, store: String,
                        beforeBatch: Option[Long]): DataFrame = {
    val n = nodes(spark, store, beforeBatch).select("id", "qv", "n2")
    tombstones(spark, store) match {
      case Some(t) => n.join(broadcast(t), Seq("id"), "left_anti")
      case None => n
    }
  }

  /** Top-k beam search over the PERSISTED graph —
    * [[Similarity.graphSearch]] against the store instead of a
    * per-run nnDescent: fixed hash-seeded entries, `rounds` fixed
    * expansions at beam width `beam`, exact-cosine rerank of the
    * visited set, rank ties to the smaller id. Tombstoned ids are
    * invisible (see the deletion contract above). Probe-grain: the
    * |q|·beam beam broadcasts against the edge table, scoring joins
    * the node table on its id key — the store is never self-joined.
    */
  def searchTopK(spark: SparkSession, store: String, queries: DataFrame,
                 vecCol: String, idCol: String, entries: Int, beam: Int,
                 rounds: Int, topK: Int, dim: Int): DataFrame = {
    require(entries >= 1 && beam >= 1 && rounds >= 0 && topK >= 1,
      s"bad entries=$entries beam=$beam rounds=$rounds topK=$topK")
    val live = liveNodes(spark, store, None)
    val g = edges(spark, store, None)
      .select(col("id").as("vec_id"), col("nid").as("neighbor_id"))
    val probes = prepared(queries.filter(col(vecCol).isNotNull &&
        size(col(vecCol)) === dim), vecCol, idCol)
      .select(col("id").as("qid"), col("qv").as("pqv"), col("n2").as("pn2"))
    val ent = entrySet(live, entries)
    beamSearch(live, probes, g,
        probes.select(col("qid")).crossJoin(broadcast(ent)),
        beam, rounds, Some(dim))
      .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("id").asc)))
      .filter(col("rank") <= topK)
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        col("rank"), round(col("cos"), 6).as("cosine"))
  }

  /** Re-link maintenance — the repair for tombstone-eroded
    * neighborhoods ([[vacuum]] removes edges but never re-links;
    * that honest limit is documented above, and [[stats]] publishes
    * the watch metrics that schedule this): every LIVE node whose
    * out-degree to live targets fell below `minDegree` re-runs the
    * [[insert]] connect path — beam-search the current graph from
    * the fixed entry set, connect to its exact-cosine top `connectK`,
    * land the new forward+reverse edges as `batch=<batchId>` (edges
    * only, no node rows). Replay-idempotent via the same
    * exclude-own-writes read (`< batchId`, monotone ids); O(weak
    * nodes) probe-grain work plus one degree aggregation — the
    * corpus is never rescanned, unlike the fresh [[build]] this
    * substitutes for. Returns the number of re-linked nodes.
    */
  def relink(spark: SparkSession, store: String, batchId: Long,
             minDegree: Int, connectK: Int, entries: Int, beam: Int,
             rounds: Int, dim: Int): Long = {
    require(batchId > 0, s"relink batch ids start at 1, got $batchId")
    require(minDegree >= 1 && connectK >= 1 && entries >= 1 && beam >= 1 &&
      rounds >= 0, s"bad minDegree=$minDegree connectK=$connectK " +
      s"entries=$entries beam=$beam rounds=$rounds")
    val nB = storeBuckets(spark, store)
    graft.streaming.CdcStream.requireStoreBuckets(spark, edgesPath(store), nB)
    val live = liveNodes(spark, store, Some(batchId))
    val e = edges(spark, store, Some(batchId)).select("id", "nid")
    val liveIds = live.select("id")
    // live out-degree: edges whose SOURCE and TARGET both survive —
    // dead-target edges are exactly the navigability a vacuum removed
    val liveDeg = e.join(liveIds, Seq("id"), "left_semi")
      .join(liveIds.select(col("id").as("nid")), Seq("nid"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("d"))
    val weak = liveIds.join(liveDeg, Seq("id"), "left")
      .filter(coalesce(col("d"), lit(0L)) < minDegree).select("id")
    val probes = live.join(weak, Seq("id"), "left_semi")
      .select(col("id").as("qid"), col("qv").as("pqv"), col("n2").as("pn2"))
      .persist()
    val nWeak = probes.count()
    if (nWeak > 0) {
      val g = e.select(col("id").as("vec_id"), col("nid").as("neighbor_id"))
      val ent = entrySet(live, entries)
      val visited = beamSearch(live, probes,
        g, probes.select(col("qid")).crossJoin(broadcast(ent)),
        beam, rounds, Some(dim))
      val wTop = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("id").asc)
      val fwd = graft.util.Lineage.truncateLazy(
        visited.withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= connectK)
          .select(col("qid").as("id"), col("id").as("nid"),
            round(col("cos"), 6).as("cos")))
      val rev = fwd.select(col("nid").as("id"), col("id").as("nid"), col("cos"))
      graft.streaming.CdcStream.writeStorePartitions(
        fwd.unionByName(rev), bucketOf(col("id"), nB), batchId,
        edgesPath(store), nB)
    }
    probes.unpersist()
    nWeak
  }

  /** Store-backed near-dup PAIRS — the O(edges) sweep a deployment
    * that already pays the persisted graph actually runs (zero
    * rebuild; [[Similarity.graphDupPairs]]'s chain re-pointed at the
    * store): candidate pairs are the store's MUTUAL edges (both
    * directions present — [[insert]] writes forward+reverse edges,
    * the seed nnDescent graph is directed, so mutuality is the
    * dedup_graph convention), both endpoints LIVE (tombstoned ids
    * drop out of the dup graph immediately, before any [[vacuum]]),
    * verified by the EXACT cosine recomputed from the store's own
    * quantized vectors and kept at ≥ `threshold` (rounded to 6, the
    * file-wide convention). Subset-of-exact by construction — the
    * graph only proposes, the cosine decides. Cost: one edge-list
    * dedup plus two id-keyed node joins; the store is never
    * self-joined at corpus grain.
    */
  def dedupPairs(spark: SparkSession, store: String,
                 threshold: Double): DataFrame = {
    val live = liveNodes(spark, store, None)
    val e = edges(spark, store, None).select("id", "nid")
      .filter(col("id") =!= col("nid"))
    val mutual = e.filter(col("id") < col("nid"))
      .join(e.filter(col("id") > col("nid"))
        .select(col("nid").as("id"), col("id").as("nid")),
        Seq("id", "nid"), "left_semi")
      .distinct()
    val a = live.select(col("id"), col("qv").as("__qa"), col("n2").as("__na"))
    val b = live.select(col("id").as("nid"), col("qv").as("__qb"),
      col("n2").as("__nb"))
    mutual.join(a, Seq("id")).join(b, Seq("nid")) // inner: tombstones drop
      .withColumn("cosine", round(
        Similarity.qdot(col("__qa"), col("__qb")).cast("double") /
          (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))),
        6))
      .filter(col("cosine") >= threshold)
      .select(col("id").as("id_a"), col("nid").as("id_b"), col("cosine"))
  }

  /** [[dedupPairs]] → connected components: (id, cluster)
    * for every store member of a near-dup group — the batch sweep
    * that closes the ANN↔dedup loop against the persisted store.
    */
  def dedupSweep(spark: SparkSession, store: String,
                 threshold: Double): DataFrame =
    graft.ops.Dedup.connectedComponents(
      dedupPairs(spark, store, threshold).select("id_a", "id_b"))

  /** Store health report — the metrics a graph-ANN deployment watches
    * (the IvfIndex.stats sibling): one row of exact integers —
    * node/tombstone/edge counts, DEAD edges (edges naming a
    * tombstoned id: each costs one wasted frontier candidate per
    * expansion until [[vacuum]] folds it out — the rebuild-scheduling
    * signal, since vacuum removes edges but never re-links), and the
    * live out-degree min/max/mean (milli). One column-pruned scan of
    * each store + a node-keyed degree agg; nothing corpus-sized
    * broadcasts (the tombstone set broadcasts, bounded between
    * vacuums).
    */
  def stats(spark: SparkSession, store: String): DataFrame = {
    val n = nodes(spark, store).select("id")
    val e = edges(spark, store).select("id", "nid")
    val tombs = tombstones(spark, store)
    val nTombs = tombs.map(_.count()).getOrElse(0L)
    val live = tombs match {
      case Some(t) => n.join(broadcast(t), Seq("id"), "left_anti")
      case None => n
    }
    val dead = tombs match {
      case Some(t) =>
        e.join(broadcast(t), Seq("id"), "left_semi")
          .unionByName(e.join(broadcast(t.select(col("id").as("nid"))),
            Seq("nid"), "left_semi").select("id", "nid"))
          .distinct().count()
      case None => 0L
    }
    val deg = live.join(e.groupBy("id").agg(count(lit(1)).as("d")),
        Seq("id"), "left")
      .select(coalesce(col("d"), lit(0L)).as("d"))
      .agg(count(lit(1)).as("n_live"), min("d").as("min_deg"),
        max("d").as("max_deg"),
        expr("sum(d) * 1000 div greatest(count(1), 1)").as("avg_deg_milli"))
    deg.crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_live"), lit(nTombs).as("n_tombstoned"),
        col("n_edges"), lit(dead).as("n_dead_edges"),
        col("min_deg"), col("max_deg"), col("avg_deg_milli"))
  }

  /** Register deletions as ID TOMBSTONES (`tombs/batch=<id>`, one dir
    * per deletion batch — replay-idempotent). O(batch): the graph is
    * bucketed by SOURCE id, but edges naming a deleted id as their
    * TARGET live in arbitrary buckets, so the physical removal is
    * [[vacuum]]'s job; until then the search-side anti-join hides the
    * id completely. Returns the batch's distinct id count.
    */
  def delete(spark: SparkSession, ids: DataFrame, idCol: String,
             store: String, batchId: Long): Long = {
    // keep the id column's NATIVE type: the rest of the API is
    // type-agnostic, and a cast("long") would NULL every non-numeric
    // id — the tombstone anti-join then matches nothing and deletion
    // silently no-ops while reporting a count
    val d = ids.select(col(idCol).as("id"))
      .filter(col("id").isNotNull).distinct()
      .persist()
    d.coalesce(1).write.mode("overwrite")
      .parquet(s"${tombsPath(store)}/batch=$batchId")
    val n = d.count(); d.unpersist(); n
  }

  /** The live tombstone set, if any deletions are pending. */
  def tombstones(spark: SparkSession, store: String): Option[DataFrame] = {
    val p = tombsPath(store)
    if (graft.util.Fs.existsNonEmpty(spark, p))
      Some(spark.read.parquet(p).select("id").distinct())
    else None
  }

  /** Test-injectable failpoint (the IvfIndex.vacuum crash-drill
    * discipline): named points at every crash-relevant boundary —
    * `staged:<st>:<gb>` (fold written, rename pending),
    * `based:<st>:<gb>` (base renamed in, source dirs still live),
    * `bucket-done:<st>:<gb>`, `before-tombs-clear`. `<st>` is
    * `nodes` or `edges`. Production leaves the no-op; the spec
    * installs a throwing hook and proves a re-run with the SAME
    * batchId heals every window. */
  private[graft] var vacuumFailpoint: String => Unit = _ => ()

  /** Physically fold pending tombstones into both stores — offline
    * maintenance (the VACUUM slot): node buckets holding tombstoned
    * ids drop those rows; edge buckets holding any edge that NAMES a
    * tombstoned id (as source or target) drop those edges. Affected
    * buckets are found by column-pruned scans; each folds its
    * `batch=` dirs into one `batch=-(batchId+2)` base dir (exact-
    * duplicate rows collapse, so the fold is safe over a
    * crash-overlapped base), then the tombstone dir drops. Crash
    * recovery = re-run with the SAME batchId: an existing base dir
    * skips its rebuild and the replay finishes the source deletes.
    *
    * CONCURRENT-INGESTION contract: the fold gives every source row a
    * negative base version, which DEFEATS [[insert]]'s
    * exclude-own-writes read (`batch < batchId`) for any ingestion
    * batch whose rows were folded before its checkpoint committed — a
    * replay would search a graph containing its own first attempt and
    * land duplicate edges beside the base. Either run vacuum with the
    * ingestion stream quiesced at a committed checkpoint (upToBatch =
    * None), or pass `upToBatch` = the stream's committed high-water
    * mark ([[graft.streaming.GraphAnnStream]]'s `_graft_batch` stamp):
    * the fold then touches only batch dirs at-or-below that mark (plus
    * prior bases), replayable batches stay whole, and tombstones still
    * matching ids in the SKIPPED batches are retained instead of
    * cleared (nothing resurfaces; the next full vacuum finishes them —
    * until then dead edges in skipped dirs keep costing one frontier
    * candidate each, the documented tombstone price).
    *
    * @return per-(store, bucket) rows remaining
    */
  def vacuum(spark: SparkSession, store: String, batchId: Long,
             upToBatch: Option[Long] = None): Seq[(String, Int, Long)] = {
    require(upToBatch.forall(_ >= 0), s"upToBatch must be >= 0, got $upToBatch")
    val tombs = tombstones(spark, store).getOrElse(return Nil)
    val tombsTgt = tombs.select(col("id").as("nid"))
    val baseId = -batchId - 2
    def foldable(id: Long): Boolean = id < 0 || upToBatch.forall(id <= _)
    def fold(storePath: String, tag: String,
             affectedOf: DataFrame => DataFrame,
             keep: DataFrame => DataFrame): Seq[(String, Int, Long)] = {
      import org.apache.hadoop.fs.Path
      val f = graft.util.Fs.fs(spark, storePath)
      val all = spark.read.option("basePath", storePath).parquet(storePath)
      val inScope = upToBatch.map(u =>
        all.filter(col("batch") <= u || col("batch") < 0)).getOrElse(all)
      val affected = affectedOf(inScope)
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      affected.map { k =>
        val bucketDir = s"$storePath/gb=$k"
        val basePath = s"$bucketDir/batch=$baseId"
        val staging = s"$bucketDir/__staging_vacuum"
        val srcIds = f.listStatus(new Path(bucketDir)).map(_.getPath.getName)
          .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
          .filter(id => id != baseId && foldable(id))
        if (!f.exists(new Path(basePath))) {
          keep(spark.read.option("basePath", bucketDir)
              .parquet(srcIds.map(id => s"$bucketDir/batch=$id").toIndexedSeq: _*))
            .drop("batch").dropDuplicates()
            .coalesce(1).write.mode("overwrite").parquet(staging)
          vacuumFailpoint(s"staged:$tag:$k")
          if (!f.rename(new Path(staging), new Path(basePath)))
            throw new java.io.IOException(s"rename $staging -> $basePath failed")
        }
        vacuumFailpoint(s"based:$tag:$k")
        srcIds.foreach(id =>
          graft.util.Fs.delete(spark, s"$bucketDir/batch=$id"))
        graft.util.Fs.delete(spark, staging)
        vacuumFailpoint(s"bucket-done:$tag:$k")
        (tag, k, spark.read.parquet(basePath).count())
      }
    }
    val nOut = fold(nodesPath(store), "nodes",
      all => all.join(broadcast(tombs), Seq("id"), "left_semi").select("gb"),
      df => df.join(broadcast(tombs), Seq("id"), "left_anti"))
    val eOut = fold(edgesPath(store), "edges",
      all => all.join(broadcast(tombs), Seq("id"), "left_semi").select("gb")
        .unionByName(all.join(broadcast(tombsTgt), Seq("nid"), "left_semi")
          .select("gb")),
      df => df.join(broadcast(tombs), Seq("id"), "left_anti")
        .join(broadcast(tombsTgt), Seq("nid"), "left_anti"))
    vacuumFailpoint("before-tombs-clear")
    upToBatch match {
      case Some(u) =>
        // tombstoned ids still present in SKIPPED node batches must
        // stay tombstoned — clearing them would resurface those rows.
        // Survivors land under a reserved negative dir BEFORE the old
        // dirs drop, so no crash window loses a pending tombstone.
        import org.apache.hadoop.fs.Path
        val skipped = nodes(spark, store).filter(col("batch") > u)
          .select("id")
        val surv = tombs.join(skipped, Seq("id"), "left_semi")
          .distinct().persist()
        val nSurv = surv.count()
        if (nSurv > 0)
          surv.coalesce(1).write.mode("overwrite")
            .parquet(s"${tombsPath(store)}/batch=$baseId")
        surv.unpersist()
        if (nSurv == 0L) graft.util.Fs.delete(spark, tombsPath(store))
        else graft.util.Fs.fs(spark, tombsPath(store))
          .listStatus(new Path(tombsPath(store))).map(_.getPath)
          .filter(p => p.getName.startsWith("batch=") &&
            p.getName != s"batch=$baseId")
          .foreach(p => graft.util.Fs.delete(spark, p.toString))
      case None =>
        graft.util.Fs.delete(spark, tombsPath(store))
    }
    nOut ++ eOut
  }
}
