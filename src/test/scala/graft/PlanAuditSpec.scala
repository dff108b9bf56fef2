package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Automated plan-shape guards: the scale properties PERF.md documents
  * (pushdown, pruning, broadcast, partial aggregation, native
  * expressions) asserted on the real driver-contract queries so a
  * refactor can't silently regress them.
  */
class PlanAuditSpec extends SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def q(name: String): DataFrame = {
    // other suites may have cached the shared tables; a cached input
    // plans as InMemoryRelation and hides the parquet scan under audit
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sfDir)
  }

  test("keepLineage knob: the GATED minhash query explains its real shape " +
      "(no opaque localCheckpoint scan)") {
    // the r17 evidence defect: lineage-cut operators dumped as a
    // 7-line `Scan ExistingRDD` plan. Under spark.graft.keepLineage
    // the gated query's own plan must carry the banded-join shape —
    // wide-form partial min signatures, the salted bucket equi-join,
    // never a cartesian — and without the knob the cut must still
    // apply (the bench plan is the truncated one).
    withSQLConf(graft.util.Lineage.KeepKey -> "true") {
      val plan = formatted(q("dedup_minhash_lsh"))
      assert(!plan.contains("ExistingRDD"),
        "keepLineage did not suppress the lineage cut")
      assert(plan.contains("partial_min"), "lost the wide-form band min")
      assert(plan.contains("graft_intersect_size"), "lost the native verify")
      assert(!plan.contains("CartesianProduct"))
    }
    assert(formatted(q("dedup_minhash_lsh")).contains("ExistingRDD"),
      "without the knob the gated plan must stay truncated (bench shape)")
  }

  test("q3_join_agg: filters reach parquet, dims broadcast, aggregation is partial") {
    val plan = formatted(q("q3_join_agg"))
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      "lineitem date filter must push into the scan")
    assert(plan.contains("BroadcastHashJoin"), "dimension joins must broadcast")
    assert(plan.contains("partial_sum"), "aggregation must combine map-side")
  }

  test("cdc_incremental_pull: single pushed-down scan, no shuffle") {
    val plan = formatted(q("cdc_incremental_pull"))
    assert(plan.contains("GreaterThan(event_id"),
      "watermark predicate must push into the scan")
    assert(!plan.contains("Exchange"), "incremental pull must not shuffle")
  }

  test("cdc_range_hash_fast: key-only scan with partial aggregation") {
    val plan = formatted(q("cdc_range_hash_fast"))
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint>"),
      "range hash must read ONLY the key column")
    assert(plan.contains("partial_sum"), "bucket hashes must combine map-side")
  }

  test("dedup_embedding and ann_topk: native graft_dot in the plan") {
    assert(formatted(q("dedup_embedding")).contains("graft_dot"),
      "pair scan must use the codegen'd dot product")
    assert(formatted(q("ann_topk")).contains("graft_dot"))
  }

  test("q5_multijoin: no sort-merge join at dimension scale") {
    val plan = formatted(q("q5_multijoin"))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"),
      "all q5 joins are dim joins and must broadcast")
  }

  test("ann_lsh_pairs: bucket equi-join with native dot, never a global cross join") {
    val plan = formatted(q("ann_lsh_pairs"))
    assert(plan.contains("graft_dot"), "pair cosine must use the codegen'd dot product")
    assert(!plan.contains("CartesianProduct"),
      "the pair scan must be bucket-bounded, not a global cross join")
  }

  test("text_unigram_logprob: broadcast vocab join, partial aggregation") {
    val plan = formatted(q("text_unigram_logprob"))
    assert(plan.contains("BroadcastHashJoin"), "vocab join must broadcast")
    assert(plan.contains("partial_avg") || plan.contains("partial_sum"),
      "per-doc score must combine map-side")
  }

  test("text_repetition: zero exchanges — pure per-row expressions") {
    val plan = formatted(q("text_repetition"))
    assert(!plan.contains("Exchange"),
      "repetition signals must run at scan speed with no shuffle")
  }

  test("text_contamination: probe set broadcasts, corpus side never shuffles pre-join") {
    val plan = formatted(q("text_contamination"))
    assert(plan.contains("BroadcastHashJoin"),
      "the benchmark n-gram set must broadcast")
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      "shared-ngram counts must combine map-side")
  }

  test("dedup_keep_best: struct-max partial aggregation, no window sort") {
    val plan = formatted(q("dedup_keep_best"))
    assert(plan.contains("partial_min"),
      "keeper argmax must be a partial-aggregatable struct min")
    assert(!plan.contains("Window"),
      "keeper selection must not sort groups through a window")
  }

  test("q_range_join: binned broadcast hash join, never nested-loop or cartesian") {
    val plan = formatted(q("q_range_join"))
    assert(plan.contains("BroadcastHashJoin"),
      "the bin equi-join must plan as a broadcast hash join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "a range join must never fall back to an all-pairs physical join")
    assert(plan.contains("partial_sum"),
      "the per-window aggregate must combine map-side")
  }

  test("cdc_agg_maintain: touched keys broadcast, delta aggregation is partial") {
    val plan = formatted(q("cdc_agg_maintain"))
    assert(plan.contains("BroadcastHashJoin"),
      "the replaced-row semi-join must broadcast the batch's keys, " +
        "never shuffle the base")
    assert(plan.contains("partial_sum"),
      "delta folding must partial-aggregate (one O(batch) shuffle)")
  }

  test("cdc_join_maintain: key sets broadcast, untouched rows pass by anti join, no loop join") {
    val plan = formatted(q("cdc_join_maintain"))
    assert(plan.contains("BroadcastHashJoin"),
      "touched-key prunes and re-derivation joins must broadcast")
    assert(plan.contains("LeftAnti"),
      "untouched view rows must pass through by reference (anti join)")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "nothing in the fold may loop-join")
  }

  test("text_pack: one shard shuffle, nothing else") {
    // count node-detail headers ("(3) Exchange"), not raw substring
    // hits — formatted explain prints every node twice (tree + detail)
    val plan = formatted(q("text_pack"))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"packing is one hash-shard shuffle + per-shard sort; got $exchanges exchanges")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("catalog sink: cycle-2 merge plans with NO exchange on the bucketed base side") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import graft.cdc.{CatalogStore, ChangeCapture, Merge, SchemaSync}
    import graft.util.{Lineage, Tables}

    val layout = SchemaSync.layoutFor(
      Seq(SchemaSync.IndexSpec("events_pkey", primary = true, Seq("event_id"))), 8).get
    val store = new CatalogStore(spark, Map("events" -> layout),
      statePath = java.nio.file.Files.createTempDirectory("audit-state").toString,
      tablePrefix = "audit_")
    val events = Tables.events(spark, sfDir)
    store.write("events", events)

    // steady-state cycle: a small change batch merges into the target.
    // Force the worst case for the claim — no broadcast escape hatch —
    // so the anti-join must use the base table's own distribution.
    val changes = events.filter(col("event_id") > 900)
      .withColumn("value", col("value") + 1.0)
    // and the Replicator's own batch: a watermark pull on a non-key
    // version column of a parquet source, truncated — its key column
    // reads nullable and nothing filters it non-null
    val srcPath = java.nio.file.Files.createTempDirectory("audit-src").resolve("events").toString
    events.withColumn("value", col("value") + 1.0).write.parquet(srcPath)
    val pulled = Lineage.truncate(ChangeCapture.incrementalPull(
      spark.read.parquet(srcPath), col("ts").cast("long"), watermark = 0L))
    for (batch <- Seq(changes, pulled)) withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val merged = Merge.upsert(store.read("events"), batch, Seq("event_id"))
      merged.count()
      def collectAll(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => a +: collectAll(a.executedPlan)
        case other => other +: (other.children.flatMap(collectAll) ++
          other.subqueries.flatMap(collectAll))
      }
      val nodes = collectAll(merged.queryExecution.executedPlan)
      val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.nonEmpty, "the change-batch side must shuffle to align")
      // no shuffle subtree may contain the bucketed base table's scan
      val baseShuffled = shuffles.exists(s =>
        collectAll(s.asInstanceOf[SparkPlan]).exists(_.toString.contains("audit_events")))
      assert(!baseShuffled,
        "the bucketed base table must be read in place — merging must not reshuffle the target")
    }
  }

  private def exchanges(plan: String): Int =
    "\\(\\d+\\) Exchange".r.findAllIn(plan).size

  test("cdc_scd2: both windows share ONE exchange and ONE sort") {
    val plan = formatted(q("cdc_scd2"))
    assert(exchanges(plan) === 1,
      "dedup-lag and interval-lead run over the same (partition, order) spec")
    assert("\\(\\d+\\) Sort".r.findAllIn(plan).size === 1,
      "the second window must reuse the first's sort order")
  }

  test("dedup_simhash: one shuffle, wide partial sums, no bit-replication join") {
    val plan = formatted(q("dedup_simhash"))
    assert(exchanges(plan) === 1,
      "spread-by-id satisfies the groupBy(id) — fingerprints need no second shuffle")
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      "the 60-bit fan-out must be wide agg columns, not a ×60 row join")
    assert(plan.contains("partial_sum"), "bit sums must combine map-side")
  }

  test("q_heavy_hitters: total reuses the count exchange; top-k never global-sorts") {
    // static reuse is visible with AQE off (AQE reuses at stage submit)
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = formatted(q("q_heavy_hitters"))
      assert(plan.contains("ReusedExchange"),
        "the corpus total must fold over the SAME shuffled aggregate, not rescan")
      assert(plan.contains("TakeOrderedAndProject"),
        "top-k must be per-partition heaps + driver merge, not a global sort")
    }
  }

  test("q_semi_join / q_anti_join: existential probes ship keys, not rows") {
    val semi = formatted(q("q_semi_join"))
    assert(semi.contains("LeftSemi"), "EXISTS must plan as a semi join")
    assert(semi.contains("ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>"),
      "the probe side must scan only the key and the pushed filter column")
    assert(semi.contains("PushedFilters") && semi.contains("l_returnflag"),
      "the probe filter must reach the parquet reader")
    val anti = formatted(q("q_anti_join"))
    assert(anti.contains("LeftAnti"), "NOT EXISTS must plan as an anti join")
  }

  test("q_bloom_join: bloom probe filters the fact scan below the join") {
    val plan = formatted(q("q_bloom_join"))
    assert(plan.contains("graft_bloom_might_contain"),
      "the bloom might-contain probe must appear in the plan")
    assert(!plan.contains("UDF") && !plan.contains("BatchEvalPython"),
      "the probe must be the native codegen'd expression, not a UDF")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_returnflag:string>"),
      "the fact scan must stay column-pruned under the probe filter")
    assert(plan.contains("partial_sum"), "aggregation must combine map-side")
  }

  test("q_skew_salted_join: the shuffle key carries the salt") {
    val plan = formatted(q("q_skew_salted_join"))
    assert(plan.contains("__graft_salt"),
      "join keys must include the salt column so heavy keys split")
    assert(plan.contains("partial_sum"), "aggregation must combine map-side")
  }

  test("q_join_advise: each side is scanned exactly once, no join") {
    val plan = formatted(q("q_join_advise"))
    assert("lineitem\\.parquet".r.findAllIn(plan).size == 1,
      "total/max/matched stats must fold over ONE pass of the big side")
    assert("orders\\.parquet".r.findAllIn(plan).size == 1,
      "the small-side key set must be computed once, not per-statistic")
    assert(plan.contains("partial_sum"),
      "the per-key tag counts must combine map-side")
  }

  test("dedup_incremental: corpus probe is key-only and never re-aggregated") {
    val plan = formatted(q("dedup_incremental"))
    assert(plan.contains("LeftAnti"),
      "the corpus probe must be an anti join on the content hash")
    assert(plan.contains("partial_min"), "batch keeper agg must be partial")
  }

  test("sample_mixture: rate table broadcasts, the corpus side never shuffles") {
    val plan = formatted(q("sample_mixture"))
    assert(plan.contains("BroadcastHashJoin"),
      "the |strata|-row rate table must broadcast onto the scan")
    assert(!plan.contains("SortMergeJoin"),
      "the corpus must never shuffle for the rate join")
    assert(plan.contains("partial_sum"), "stratum totals must combine map-side")
  }

  test("sample_importance: weight table broadcasts, feature counts are partial") {
    val plan = formatted(q("sample_importance"))
    assert(plan.contains("BroadcastHashJoin"),
      "the <=m-row weight table must broadcast onto the feature stream")
    assert(plan.contains("partial_sum"),
      "bucket counts and doc scores must combine map-side")
    assert(!plan.contains("CartesianProduct"),
      "the totals fold must be a broadcast nested loop, never cartesian")
  }

  test("dedup_lines: offender set anti-joins, line counts and rebuild are partial") {
    val plan = formatted(q("dedup_lines"))
    assert(plan.contains("LeftAnti"),
      "duplicate lines must be removed by an anti join against offenders only")
    assert(plan.contains("partial_count"),
      "global line counts must combine map-side")
  }

  test("dedup_spans: window hashes explode narrow, offender probe is a semi join") {
    val plan = formatted(q("dedup_spans"))
    assert(plan.contains("LeftSemi"),
      "offending windows must be selected by a key-only semi join")
    assert(plan.contains("partial_count"),
      "corpus window counts must combine map-side")
    assert(!plan.contains("CartesianProduct"))
    // the exploded stream must carry (id, pos, md5) only — never the
    // token array replicated per window
    assert(!plan.contains("Generate explode(ws"),
      "the token array itself must not be exploded")
  }

  test("text_kl_drift: one corpus explode, derived totals broadcast") {
    val plan = formatted(q("text_kl_drift"))
    assert(plan.contains("Generate"), "token stream is one explode")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      "(stratum, token) counts must combine map-side")
    assert(plan.contains("BroadcastHashJoin"),
      "stratum totals must broadcast back onto the token aggregate")
    assert(!plan.contains("CartesianProduct"),
      "the grand-total fold must be a broadcast nested loop, never cartesian")
  }

  test("emb_project: literal sign matrix, zero exchanges, zero joins") {
    val plan = formatted(q("emb_project"))
    assert(!plan.contains("Exchange"),
      "projection is per-row arithmetic and must not shuffle")
    assert(!plan.contains("Join"),
      "the sign matrix is a plan-time literal, never a joined table")
  }

  test("bpe_top_pairs: pair counts combine map-side, top-k never global-sorts") {
    val plan = formatted(q("bpe_top_pairs"))
    assert(plan.contains("partial_sum"),
      "pair counts must combine map-side")
    assert(plan.contains("TakeOrderedAndProject"),
      "the ordered limit must be a per-partition top-k, not a global sort")
  }

  test("text_cooccurrence: one narrow explode, map-side pair counts, no join") {
    val plan = formatted(q("text_cooccurrence"))
    assert(plan.contains("Generate"), "pairs come from one per-row explode")
    assert(plan.contains("partial_count"), "pair counts must combine map-side")
    assert(!plan.contains("Join"), "the matrix is one aggregate, never a self-join")
  }

  test("text_tfidf: df derives from the tf aggregate, doc count broadcasts") {
    val plan = formatted(q("text_tfidf"))
    assert(plan.contains("partial_count"), "tf and df must combine map-side")
    assert(!plan.contains("CartesianProduct"),
      "the single-row doc count must fold in as a broadcast, never cartesian")
  }

  test("quality_lr_score: weight table broadcasts, logits and gradients are partial") {
    val plan = formatted(q("quality_lr_score"))
    assert(plan.contains("BroadcastHashJoin"),
      "the m-row weight table must broadcast onto the feature stream")
    assert(plan.contains("partial_sum"),
      "per-doc scores must combine map-side")
    assert(!plan.contains("CartesianProduct"))
  }

  test("text_pmi: marginals derive from the matrix aggregate, total folds in broadcast") {
    val plan = formatted(q("text_pmi"))
    assert(plan.contains("partial_sum"), "marginals must combine map-side")
    assert(!plan.contains("CartesianProduct"),
      "the single-row total must fold in as a broadcast, never cartesian")
    // the co-occurrence aggregate feeds four consumers and exchange
    // reuse does NOT dedup the subtree across them: before the
    // Lineage.truncate fix the plan held FOUR full scan+explode+agg
    // branches (5-23 s at sf0.1); truncation makes the corpus pass
    // happen exactly once, so the downstream plan must contain no
    // parquet scan at all
    assert(!plan.contains("Scan parquet"),
      "the corpus must be read once at truncation — a scan here means the 4x replay is back")
  }

  test("q_anomaly_zscore: moment stats broadcast back, event stream never shuffle-joins") {
    val plan = formatted(q("q_anomaly_zscore"))
    assert(plan.contains("BroadcastHashJoin"),
      "the |groups|-row stats table must broadcast onto the scan")
    assert(plan.contains("partial_sum"), "moment sums must combine map-side")
    assert(!plan.contains("SortMergeJoin"),
      "the event stream must never shuffle for the stats join")
  }

  test("q_anomaly_mad: stat tables broadcast back, event stream never shuffle-joins") {
    val plan = formatted(q("q_anomaly_mad"))
    assert(plan.contains("BroadcastHashJoin"),
      "median/MAD tables must broadcast onto the scan")
    assert(!plan.contains("SortMergeJoin"),
      "the event stream must never shuffle for the stat joins")
  }

  test("q_props_extract: codegen'd path extraction fused into the scan, no UDF") {
    val plan = formatted(q("q_props_extract"))
    assert(plan.contains("get_json_object") || plan.contains("GetJsonObject"),
      "extraction must be the native path expression")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"),
      "no UDF in the extraction path")
    assert(plan.contains("partial_"), "per-type aggregate must combine map-side")
  }

  test("profile_table: hash-grouped distinct counting, partial aggregation throughout") {
    val plan = formatted(q("profile_table"))
    assert(plan.contains("md5"),
      "distinct counting must group on the digest, not the raw value")
    assert(plan.contains("partial_"), "both profile groupBys must combine map-side")
    assert(!plan.contains("rangepartitioning") && !plan.contains("CartesianProduct"))
  }

  test("sample_group_cap: per-group window on the group exchange, no global sort") {
    val plan = formatted(q("sample_group_cap"))
    assert(plan.contains("Window"), "the cap rank comes from a per-group window")
    assert(!plan.contains("rangepartitioning"),
      "group capping must never global-sort")
  }

  test("text_gopher_filter: pure per-row expressions, zero shuffles") {
    val plan = formatted(q("text_gopher_filter"))
    assert(!plan.contains("Exchange"),
      "the composite filter must run at scan speed with no shuffle")
  }

  test("text_entropy: pure per-row array arithmetic, zero shuffles") {
    val plan = formatted(q("text_entropy"))
    assert(!plan.contains("Exchange"),
      "the entropy signal must run at scan speed with no shuffle")
  }

  test("text_html_extract: pure per-row regex chain, zero exchanges") {
    val plan = formatted(q("text_html_extract"))
    assert(!plan.contains("Exchange"),
      "extraction must fuse into the scan — markup never repartitions")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"),
      "the strip/decode chain must stay native regexp expressions")
  }

  test("text_winnow: per-row selection, at most the scan-spread exchange") {
    // Tables.spread may add ONE deterministic doc_id hash repartition
    // when the scan has fewer splits than cores (input-skew fix; a
    // no-op at corpus scale). Anything beyond that — a second
    // exchange, round-robin, or a range sort — is a regression.
    val plan = formatted(q("text_winnow"))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).size
    assert(exchanges <= 1,
      s"winnowed fingerprint selection must run at scan speed bar the " +
        s"single scan-spread repartition; got $exchanges exchanges")
    if (exchanges == 1)
      assert(plan.contains("hashpartitioning(doc_id") &&
        !plan.contains("RoundRobinPartitioning"),
        "the scan spread must be a deterministic doc_id hash repartition")
  }

  test("profile_sketch: one key-only distinct exchange, then bounded windows") {
    val plan = formatted(q("profile_sketch"))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).size
    assert(exchanges <= 3,
      s"distinct + salted k-min + final k-min = at most 3 exchanges, got $exchanges")
    assert(plan.contains("WindowGroupLimit"),
      "the bottom-k windows must take the rank-limit pushdown path")
  }

  test("pipeline runner: the composed config chain keeps sane plan shapes") {
    spark.catalog.clearCache()
    val df = Pipeline.assemble(spark,
      s"""{"input": "$sfDir/documents.parquet", "output": "/tmp/unused",
         |"stages": [
         |  {"op": "gopher_filter"},
         |  {"op": "dedup_exact"},
         |  {"op": "group_cap", "group": "source", "k": 5},
         |  {"op": "shard", "numShards": 4}]}""".stripMargin)
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"),
      "stage composition must never produce a cartesian join")
    assert(!plan.contains("rangepartitioning"),
      "no stage may introduce a global sort")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"))
    assert(plan.contains("partial_"), "aggregate stages keep map-side combine")
  }

  test("pipeline_monitor_corpus: three branches union, no cartesian, partial aggs") {
    val plan = formatted(q("pipeline_monitor_corpus"))
    assert(plan.contains("Union"), "the health report is a three-branch union")
    assert(plan.contains("partial_"), "each branch must combine map-side")
    assert(!plan.contains("CartesianProduct"))
  }

  test("sample_weighted: per-group window only, no global sort") {
    val plan = formatted(q("sample_weighted"))
    assert(plan.contains("Window"))
    assert(!plan.contains("rangepartitioning"),
      "weighted sampling must never global-sort")
  }

  test("dedup_url: one partial-aggregated groupBy on the canonical key, no window") {
    val plan = formatted(q("dedup_url"))
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      "keeper selection must combine map-side")
    assert(!plan.contains("Window"),
      "URL dedup is an aggregate, not a window sort")
  }

  test("graph_pagerank iteration: partial-agg contribution sums, no cartesian") {
    // the registered query localCheckpoints per round (lineage
    // truncation), which hides the iteration plan — rebuild one
    // un-truncated round on the same synthesized graph
    spark.catalog.clearCache()
    val (nodes, edges) = graft.queries.PipelineQueries.pagerankGraph(spark, sfDir)
    val plan = formatted(
      graft.ops.Graph.pageRank(nodes, edges, iters = 1, checkpoint = false))
    assert(plan.contains("partial_sum"),
      "inbound contribution sums must combine map-side before the dst shuffle")
    assert(!plan.contains("CartesianProduct"),
      "the node-count fold must broadcast, never cartesian")
  }

  test("sample_shard: one exchange on the shard key, in-partition sort only") {
    val plan = formatted(q("sample_shard"))
    assert(plan.contains("Window"), "positions come from a per-shard window")
    // exactly one exchange: the hashpartitioning on the shard key the
    // writer needs anyway; a global sort would show a rangepartitioning
    assert(!plan.contains("rangepartitioning"),
      "shard addressing must never global-sort")
  }

  test("text_bm25: probe idf broadcasts into the tf join, no cartesian, scoring combines map-side") {
    val plan = formatted(q("text_bm25"))
    assert(plan.contains("BroadcastHashJoin"),
      "probe terms + idf must broadcast against the tf table")
    assert(!plan.contains("CartesianProduct"),
      "only the 1-row totals frame may cross-join (broadcast)")
    assert(plan.contains("partial_sum"),
      "per-(query,doc) score totals must combine map-side")
    // the truncated tf aggregate is the only CORPUS-SIDE
    // materialization, so the sole remaining documents scan is the
    // (filtered, pushed-down) probe selection — never a re-tokenize
    // of the corpus for dl/dft/scoring
    assert(plan.split("documents\\.parquet").length - 1 == 1,
      "exactly one documents scan (the probe side) may remain post-truncation")
  }

  test("bpe_encode_docs: vocab joins back broadcast, native encode in the plan") {
    val plan = formatted(q("bpe_encode_docs"))
    assert(plan.contains("BroadcastHashJoin"),
      "the word→n_tokens table must broadcast, the corpus side never reshuffles for it")
    assert(plan.contains("graft_bpe_encode"),
      "the native encode expression must be in the plan (not a UDF fallback)")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "per-doc token totals must combine map-side")
  }

  test("profile_histogram: bounds broadcast, binned counts combine map-side") {
    val plan = formatted(q("profile_histogram"))
    assert(plan.contains("BroadcastHashJoin"),
      "the |cols|-row bounds table must broadcast")
    assert(plan.contains("partial_count"),
      "bin counts must combine map-side")
    assert(!plan.contains("CartesianProduct"))
  }

  test("profile_corr: one corpus scan, moments combine map-side, column-pruned read") {
    val plan = formatted(q("profile_corr"))
    assert(plan.split("lineitem\\.parquet").length - 1 == 1,
      "the moment aggregate is ONE pass — a second scan means the pair frame re-reads the corpus")
    assert(plan.contains("partial_sum"),
      "exact decimal moments must combine map-side")
    assert(plan.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double>"),
      "the scan must read only the four profiled columns")
    assert(!plan.contains("CartesianProduct"))
  }

  test("text_rrf: both searches broadcast their bounded side, fusion aggregates partially") {
    val plan = formatted(q("text_rrf"))
    assert(plan.contains("BroadcastHashJoin"),
      "probe ids / probe idf / query vectors must broadcast")
    assert(plan.contains("graft_dot"),
      "the semantic side must use the codegen'd dot product")
    assert(!plan.contains("SortMergeJoin"),
      "no corpus-vs-corpus shuffle join anywhere in the fused plan")
    assert(plan.contains("partial_sum"),
      "rrf contributions must combine map-side")
  }

  test("ann_filtered: attribute predicate joins broadcast, native dot, no cartesian") {
    val plan = formatted(q("ann_filtered"))
    assert(plan.contains("BroadcastHashJoin"),
      "the query side must broadcast with the attribute as a join key")
    assert(plan.contains("graft_dot"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the filter must be a hash-join predicate, not a loop-join filter")
  }

  test("text_cdc_chunk: per-row boundary arithmetic, at most the scan-spread exchange") {
    val plan = formatted(q("text_cdc_chunk"))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).size
    assert(exchanges <= 1,
      s"content-defined chunking is per-row selection + explode: only the " +
        s"single scan-spread repartition is allowed, got $exchanges exchanges")
    if (exchanges == 1)
      assert(plan.contains("hashpartitioning(doc_id") &&
        !plan.contains("RoundRobinPartitioning"),
        "the scan spread must be a deterministic doc_id hash repartition")
  }

  test("text_canary: per-row injection, zero exchanges") {
    val plan = formatted(q("text_canary"))
    assert(!plan.contains("Exchange"))
  }

  test("q_gaps_islands: key-hash exchanges only, no range partitioning, no loop join") {
    val plan = formatted(q("q_gaps_islands"))
    assert(plan.contains("hashpartitioning(k") || plan.contains("hashpartitioning(user_id"),
      "island windows must shuffle on the key")
    assert(!plan.contains("rangepartitioning"), "no global sort")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q_gap_fill: one shuffle keyed by user for LOCF, counts combine map-side") {
    val plan = formatted(q("q_gap_fill"))
    assert(plan.contains("partial_count"),
      "per-bucket event counts must combine map-side")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "grid join must be keyed, never a loop join")
    // the ordered LOCF pass partitions by key only — a global sort
    // (range-partitioned exchange) would serialize the stream at scale
    assert(plan.contains("hashpartitioning(k"),
      "LOCF window must shuffle on the key")
    assert(!plan.contains("rangepartitioning"),
      "no global sort: ordering lives inside the per-key window")
  }

  test("q_percent_rank: one key-hash exchange, in-partition sort, no interpolation") {
    val plan = formatted(q("q_percent_rank"))
    assert(plan.contains("hashpartitioning(o_orderpriority"),
      "rank window must shuffle on the group key")
    assert(!plan.contains("rangepartitioning"),
      "no global sort: ordering lives inside the per-group window")
    assert(!plan.contains("percentile"),
      "percent rank is pure integer rank arithmetic — no percentile agg")
  }

  test("q_robust_scale: stat table broadcasts back, event stream never shuffles for the probe") {
    val plan = formatted(q("q_robust_scale"))
    assert(plan.contains("BroadcastHashJoin"),
      "the |groups|-row stat table must broadcast onto the scan")
    assert(plan.contains("partial_count"),
      "quantile value counts must combine map-side")
    assert(!plan.contains("SortMergeJoin"),
      "the probe join must never sort-merge the event stream")
  }

  test("pipeline_integrity: column-pruned scans, key-only join, no loop join") {
    val plan = formatted(q("pipeline_integrity"))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "documents scan must read ONLY the key and the flag source column")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the audit join must be keyed, never a loop join")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      "audit counters must combine map-side")
  }

  test("emb_gram: moments combine map-side, embedding-only scan, no join anywhere") {
    val plan = formatted(q("emb_gram"))
    assert(plan.contains("partial_sum"),
      "Gram entries must partial-aggregate so the shuffle carries <= d(d+1)/2 rows per partition")
    assert(plan.contains("ReadSchema: struct<embedding:array<float>>"),
      "gramStats must read ONLY the embedding column")
    assert(!plan.contains("Join"), "sufficient statistics need no join")
  }

  // numbered operator occurrences in formatted explain (the tree AND
  // the details section both print each op; details entries are
  // uniquely numbered, so count those)
  private def ops(plan: String, name: String): Int =
    ("""\(\d+\) """ + name + """\b""").r.findAllIn(plan).size

  test("dedup_incremental_lsh: no corpus self-join shape, batch sets broadcast, native intersect") {
    // materialize=false keeps the op's real composition one lazy plan
    // (the gated query truncates lineage, which hides it from explain)
    spark.catalog.clearCache()
    val d = graft.util.Tables.documents(spark, sfDir).select("doc_id", "text")
    val batch = d.filter(org.apache.spark.sql.functions.expr("doc_id % 25 = 0"))
    val plan = formatted(graft.ops.Dedup.incrementalLsh(
      d, batch, "text", "doc_id", materialize = false))
    assert(plan.contains("graft_intersect_size"),
      "Jaccard verify must use the codegen'd merge-intersect")
    assert(plan.contains("BroadcastHashJoin"),
      "the batch token-set side must broadcast into the verify join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation must stay a (band, sig) equi-join")
    assert(plan.contains("partial_min"),
      "minhash signatures must combine map-side (wide-form bands)")
  }

  test("sample_split: join-free conditional-sum shape, one corpus exchange") {
    val plan = formatted(q("sample_split"))
    assert(!plan.contains("Join"),
      "the fixed split vocabulary makes the whole audit conditional sums — no join")
    assert(plan.contains("partial_sum"),
      "per-hash split counters must combine map-side")
    // r17 (e02991b) spreads the per-row normalize+md5 off a
    // splits-scarce scan with ONE deterministic doc_id hash
    // repartition before the projection (Tables.spread — a structural
    // no-op at corpus scale, same shape 0b7892a pinned for
    // winnow/cdcChunk); the audit allows exactly that exchange and
    // nothing looser
    assert(ops(plan, "Exchange") <= 3,
      "content-hash + |splits|-leg + the one scan-spread exchange only")
    assert(plan.contains("hashpartitioning(doc_id"),
      "the spread must be the deterministic doc_id hash repartition")
    assert(!plan.contains("RoundRobinPartitioning") &&
      !plan.contains("rangepartitioning"),
      "never round-robin (retry-unsafe) or range (sampling pass) spread")
  }

  test("q_ewma: one key exchange, one window pass, no join") {
    val plan = formatted(q("q_ewma"))
    assert(ops(plan, "Exchange") == 1,
      "EWMA is scan -> ONE key-hash exchange -> ordered window")
    assert(ops(plan, "Window") == 1, "all k lags share one window pass")
    assert(!plan.contains("Join"))
  }

  test("q_interval_join: bin-blocked equi-join, no cross product, no dedup shuffle") {
    val plan = formatted(q("q_interval_join"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the overlap predicate must ride the bin equi-join, never a loop join")
    assert(ops(plan, "SortMergeJoin") + ops(plan, "ShuffledHashJoin") +
      ops(plan, "BroadcastHashJoin") == 1,
      "exactly one (key, bin) equi-join")
    assert(!plan.contains("HashAggregate") || !plan.contains("distinct"),
      "first-shared-bin filter replaces any distinct/dedup aggregation")
  }

  test("q_changepoint: one key exchange, argmax reuses the window's partitioning") {
    val plan = formatted(q("q_changepoint"))
    assert(ops(plan, "Exchange") == 1,
      "prefix sums AND the struct-max argmax must share one key-hash exchange")
    assert(!plan.contains("Join"))
    assert(plan.contains("partial_max"),
      "the per-key argmax must combine map-side as a struct max")
  }

  test("q_fuzzy_join: gram path is an equi-join, the only loop join is the tiny brute channel") {
    // keepLineage: the gram tables and the rarity count pin under lazy
    // cuts (they feed the frequency pass AND the per-side prefix
    // selection) — audit the REAL shape, not the truncated scan
    withSQLConf(graft.util.Lineage.KeepKey -> "true") {
      val plan = formatted(q("q_fuzzy_join"))
      assert(!plan.contains("CartesianProduct"),
        "blocking must never form the cross product")
      assert(ops(plan, "BroadcastNestedLoopJoin") <= 1,
        "at most the broadcast brute channel over sub-q(d+1) strings")
      assert(ops(plan, "SortMergeJoin") + ops(plan, "ShuffledHashJoin") +
        ops(plan, "BroadcastHashJoin") >= 1,
        "the (gram, ordinal) candidates must come from an equi-join")
      assert(plan.contains("partial_count"),
        "gram rarity counts must combine map-side")
      assert(plan.contains("slice") && plan.contains("array_sort"),
        "each side must contribute only its q·d+1 rarest grams (prefix filter)")
    }
  }

  test("emb_outliers: broadcast moment row, top-k never a global sort") {
    val plan = formatted(q("emb_outliers"))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrderedAndProject, not Sort + Limit")
    assert(plan.contains("BroadcastExchange"),
      "the one-row moment aggregate must broadcast onto the scan")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      "moments must combine map-side")
  }

  test("shard_manifest: one partial-aggregated exchange, no window") {
    val plan = formatted(q("shard_manifest"))
    assert(ops(plan, "Exchange") <= 1, "manifest is scan + ONE aggregate")
    assert(!plan.contains("Window"), "the manifest never needs positions")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      "per-shard counters must combine map-side")
  }

  test("unigram_init: substring counts combine map-side, top-N is TakeOrdered, never a global sort/rank") {
    // materialize=false: the gated query truncates mid-op, which
    // hides the build plan from explain (the incrementalLsh pattern)
    spark.catalog.clearCache()
    val plan = formatted(graft.ops.Unigram.initVocab(
      graft.util.Tables.documents(spark, sfDir), "text",
      maxPieceLen = 6, vocabSize = 256, materialize = false))
    assert(plan.contains("partial_sum"),
      "substring counts must combine map-side")
    assert(plan.contains("TakeOrderedAndProject"),
      "the multi-char top-N must be TakeOrderedAndProject")
    assert(!plan.contains("Window"),
      "seed selection must not rank the corpus-sized substring table")
  }

  test("text_pii: detectors fuse into the scan — one exchange total, no UDF") {
    val plan = formatted(q("text_pii"))
    assert(plan.contains("partial_sum"), "per-source rates must combine map-side")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLFunction"),
      "detection must stay codegen'd regexp_count, never a UDF")
    assert(ops(plan, "Exchange") <= 1,
      "PII profile is scan + ONE aggregate exchange")
  }

  test("q_seasonality: no window, phase table broadcasts, counts combine map-side") {
    val plan = formatted(q("q_seasonality"))
    assert(!plan.contains("Window"), "seasonality never needs positions")
    assert(plan.contains("BroadcastExchange"),
      "the <=7*|keys| phase table must broadcast back")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "day counts must combine map-side")
  }

  test("profile_benford and profile_entropy: single-scan partial-agg shapes, totals broadcast") {
    for (name <- Seq("profile_benford", "profile_entropy")) {
      val plan = formatted(q(name))
      assert(plan.contains("partial_count") || plan.contains("partial_sum"),
        s"$name counts must combine map-side")
      assert(plan.contains("BroadcastExchange"),
        s"$name per-column totals must broadcast")
      assert(!plan.contains("SortMergeJoin"), s"$name must not sort-merge")
    }
  }

  test("contamination_semantic: probes broadcast, corpus never shuffles, native dot") {
    val plan = formatted(q("contamination_semantic"))
    assert(plan.contains("graft_dot"), "scoring must use the codegen'd dot")
    assert(plan.contains("BroadcastExchange"), "the probe set must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "the corpus side must never shuffle for the scan")
  }

  test("cdc_conflict_resolve: one exchange family on the pk, payload via semi joins") {
    val plan = formatted(q("cdc_conflict_resolve"))
    assert(plan.contains("LeftSemi"),
      "each source must contribute through a key-only semi join")
  }

  test("dedup_bloom_prefilter: codegen'd bloom probe, corpus confirmed via broadcast only") {
    val plan = formatted(q("dedup_bloom_prefilter"))
    assert(plan.contains("graft_bloom_might_contain"),
      "the batch must probe the corpus sketch natively in-scan")
    assert(plan.contains("BroadcastExchange"),
      "positive hashes / match list must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "the corpus must never shuffle for the confirmation")
  }

  test("ann_ivf: probed-bucket join broadcasts the probe table, corpus never sort-merges") {
    // r9 bench regression: AQE dropped the probe-side broadcast and
    // sort-merged the corpus-sized assignment on cid. The hint pins it.
    val plan = formatted(q("ann_ivf"))
    assert(plan.contains("BroadcastHashJoin"),
      "probe table must broadcast onto the assignment")
    assert(!plan.contains("SortMergeJoin"),
      "the corpus-side assignment must never shuffle for the bucket probe")
  }

  test("profile_histogram_eq: every window is bucket-partitioned (the generalized rank walk)") {
    val analyzed = q("profile_histogram_eq").queryExecution.optimizedPlan
    val windows = analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.partitionSpec.size >= 2,
        s"window must partition by (col, bucket): ${w.partitionSpec}")
    }
  }

  test("profile_embeddings: quantile pass has no partition-less window over distinct norms") {
    // The r9 plan ran one global Window.orderBy(n2) — a single-task
    // bottleneck on an unnormalized corpus where distinct norms are
    // ~N. The r10 bucketed rank walk partitions the cumulative window
    // by range bucket; any Window in this plan must carry a
    // PARTITION BY (the bucket column), never an empty partition spec.
    val analyzed = q("profile_embeddings").queryExecution.optimizedPlan
    val windows = analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "the rank walk should still use a window")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"partition-less window in profile_embeddings: ${w.windowExpressions}")
    }
    // and the bucketed side tables must broadcast, not shuffle
    val plan = formatted(q("profile_embeddings"))
    assert(plan.contains("BroadcastExchange"),
      "range row + bucket offsets must broadcast")
  }

  test("q_autocorr: one key-partitioned window for all lags, counts combine map-side") {
    val analyzed = q("q_autocorr").queryExecution.optimizedPlan
    val windows = analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    // all maxLag leads must fuse into a single window over the key —
    // a window per lag would be maxLag sorts of the day grid
    assert(windows.size == 1,
      s"expected ONE fused multi-lead window, got ${windows.size}")
    assert(windows.head.partitionSpec.nonEmpty, "window partitions by key")
    val plan = formatted(q("q_autocorr"))
    assert(plan.contains("partial_count"), "day counts combine map-side")
    assert(!plan.contains("CartesianProduct"))
  }

  test("cdc_chunk_plan: bucket-partitioned rank walk, bounded side tables broadcast") {
    val analyzed = q("cdc_chunk_plan").queryExecution.optimizedPlan
    val windows = analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"partition-less window in chunk plan: ${w.windowExpressions}")
    }
    assert(formatted(q("cdc_chunk_plan")).contains("BroadcastExchange"),
      "range row + bucket offsets must broadcast")
  }

  test("graph_bfs round: equi-join frontier, struct-min combines map-side, no window") {
    // the registered query truncates per round; rebuild one round
    // un-truncated (the pagerank audit pattern)
    spark.catalog.clearCache()
    val (nodes, edges) = graft.queries.PipelineQueries.pagerankGraph(spark, sfDir)
    val seeds = nodes.filter(org.apache.spark.sql.functions.expr("id % 23 = 0"))
    val plan = formatted(graft.ops.Graph.bfs(
      seeds, edges.select("src", "dst"), maxDepth = 1, checkpoint = false))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Window"),
      "the struct-min fold is an aggregate, never a rank window")
    assert(plan.contains("partial_min"), "struct-min combines map-side")
  }

  test("ann_ivf_search: persisted centroids and probes broadcast, postings never shuffle") {
    val plan = formatted(q("ann_ivf_search"))
    assert(plan.contains("BroadcastHashJoin"),
      "probe table must broadcast onto the posting read")
    assert(!plan.contains("SortMergeJoin"),
      "the posting side must never shuffle for the probe join")
    assert(plan.contains("graft_dot"), "rerank uses the codegen'd dot product")
  }

  test("IvfIndex.assign: centroids broadcast onto the batch scan, partial struct-max") {
    // the registered ann_ivf_assign query returns the store READ-BACK
    // (its build/append run eagerly), so audit the assignment plan
    // itself — the per-batch hot path every append executes
    spark.catalog.clearCache()
    val e = graft.util.Tables.embeddings(spark, sfDir)
    val cents = graft.sim.IvfIndex.assign(
      e, "embedding", "vec_id",
      e.limit(8).select(
        org.apache.spark.sql.functions.col("vec_id").as("cid"),
        graft.sim.Similarity.quantize(
          org.apache.spark.sql.functions.col("embedding")).as("cqv"))
        .withColumn("cn2", org.apache.spark.sql.functions.expr(
          "aggregate(cqv, 0L, (a, x) -> a + x * x)")),
      dim = 64)
    val plan = formatted(cents)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "the persisted centroid table must broadcast onto the batch scan")
    assert(plan.contains("partial_max"), "argmax combines map-side")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("profile_freq: per-column top-k is TakeOrdered heaps, never a global sort") {
    val plan = formatted(q("profile_freq"))
    assert(plan.contains("TakeOrderedAndProject"),
      "orderBy().limit(k) must plan as per-partition top-k heaps")
    assert(plan.contains("partial_count"), "value counts combine map-side")
    val analyzed = q("profile_freq").queryExecution.optimizedPlan
    val sorts = analyzed.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s
    }
    // the only global orderings are the ones TakeOrdered consumes
    assert(sorts.forall(_.child.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Aggregate]))
  }

  test("text_outlinks: zero joins, extraction at scan speed, partial-agg rollup") {
    val plan = formatted(q("text_outlinks"))
    assert(!plan.contains("Join"), "outlinks is scan + aggregate, never a join")
    assert(plan.contains("partial_count"), "per-(host, doc) counts combine map-side")
  }

  test("wordpiece_encode: native expression in the plan, encode on the distinct-word table") {
    val plan = formatted(q("wordpiece_encode"))
    assert(plan.contains("graft_wordpiece_encode"),
      "the greedy scan must run as the codegen'd native expression")
    // the word-frequency aggregation is deliberately lineage-truncated
    // (the vocab collect already materialized it), so the audited plan
    // is exactly: truncated word table -> one codegen'd projection
    assert(plan.contains("Scan ExistingRDD"),
      "encode must run on the truncated distinct-word table")
  }

  test("text_ppl_bucket: LM and edges broadcast, no corpus-sized join shuffle") {
    val plan = formatted(q("text_ppl_bucket"))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      "the LM table and the 1-row edge table must broadcast")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "bigram counts combine map-side")
  }

  test("q_weighted_percentile: duplicate collapse is partial, windows partitioned, quantiles broadcast") {
    val plan = formatted(q("q_weighted_percentile"))
    assert(plan.contains("partial_sum"),
      "the (group, value) weight collapse must combine map-side")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "the tiny q_ppm list must broadcast into the theta join")
    assert(!plan.contains("CartesianProduct"),
      "never a cartesian: the quantile side is the broadcast side")
  }

  test("q_markov_transitions: one event shuffle for the lead window, counts partial") {
    val plan = formatted(q("q_markov_transitions"))
    assert(plan.contains("partial_count"),
      "(state, next) counting must combine map-side")
    // the event table shuffles ONCE (user window); the count agg and
    // the ppm normalization run on the states-squared table
    assert(exchanges(plan) <= 3,
      s"expected <= 3 exchanges (window, agg, tiny window), got:\n$plan")
  }

  test("cdc_compaction_plan: manifest agg partial, bucket window partitioned, no data join") {
    val plan = formatted(q("cdc_compaction_plan"))
    assert(plan.contains("partial_count"),
      "the per-file row manifest must combine map-side")
    assert(!plan.contains("Join"),
      "planning is windows + aggs over the manifest — no join anywhere")
  }

  test("profile_mutual_info: marginals broadcast back onto cells, corpus agg partial") {
    val plan = formatted(q("profile_mutual_info"))
    assert(plan.contains("partial_count"),
      "the (a, b) cell count must combine map-side")
    assert(plan.contains("BroadcastHashJoin"),
      "marginal tables must broadcast onto the cell table")
    assert(!plan.contains("SortMergeJoin"),
      "nothing here is big enough to sort-merge")
  }

  test("graph_assortativity: degree joins are equi-joins, one-row folds broadcast, no cartesian") {
    val plan = formatted(q("graph_assortativity"))
    assert(!plan.contains("CartesianProduct"),
      "the only cross shapes allowed are one-row broadcast folds")
    // hashGraph's |V| fold is the repo's standard 1-row broadcast
    // cross; the DEGREE joins themselves must be hash equi-joins
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("SortMergeJoin"),
      "degree joins must be equi-joins on node id")
    assert(plan.contains("partial_sum"),
      "the sufficient-statistics fold must combine map-side")
  }

  test("q_theil_sen: keyed equi-join for pairs, day collapse partial, no cartesian") {
    val plan = formatted(q("q_theil_sen"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the pair join must stay keyed on the trend key")
    assert(plan.contains("partial_count"),
      "the daily-volume collapse must combine map-side")
  }

  test("q_session_paths: both windows share one user-keyed exchange") {
    val plan = formatted(q("q_session_paths"))
    // sessionize + intra-session rank + path agg: the event table
    // crosses the wire ONCE for the user windows; the path count
    // groups the tiny path table
    assert(exchanges(plan) <= 3,
      s"expected <= 3 exchanges (user window, path agg, count), got:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("cdc_retention_plan: week window partitioned, anchor broadcast, manifest-only") {
    val plan = formatted(q("cdc_retention_plan"))
    assert(plan.contains("partial_"),
      "the distinct-day collapse must combine map-side")
    assert(!plan.contains("SortMergeJoin"),
      "the one-row anchor must broadcast, never sort-merge")
  }

  test("no gated query plans a partition-less window (global sweep)") {
    // A window with an empty partitionSpec executes as ONE task over
    // its whole input — the scale failure class embProfile (r10) and
    // zipfSlope (r11) were individually purged of. This sweeps every
    // registered query's optimized plan so the class can't re-enter.
    // Whitelist: partition-less windows over provably tiny relations.
    //  - dedup_threshold_curve: cumulative sum over the ≤21-row
    //    cosine-bucket table (PipelineQueries.dedupThresholdCurveQ).
    //  - profile_novelty: cumulative fold over the day-cardinality
    //    table (bounded by the feed horizon, Profile.noveltyCurve).
    //  - q_survival: risk-set and cumulative-hazard folds over the
    //    lifetime-PERIOD table (≤ span/periodDays rows — bounded by
    //    the calendar, not the data; Stats.kaplanMeier).
    //  - q_bh_fdr: the BH rank walk over the HYPOTHESIS battery —
    //    segment-grain (group cardinality), never data rows
    //    (Stats.bhFdr).
    val whitelist = Set("dedup_threshold_curve", "profile_novelty",
      "q_survival", "q_bh_fdr")
    spark.catalog.clearCache()
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if !whitelist(name) =>
        val windows = fn(spark, sfDir).queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
        }
        if (windows.isEmpty) Nil
        else Seq(s"$name: ${windows.size} partition-less window(s)")
      case _ => Nil
    }
    assert(offenders.isEmpty, "\n" + offenders.mkString("\n"))
  }

  test("AQE on AND off: the heaviest queries keep their pinned plan shapes under both") {
    // The scale claims above are audited under ONE adaptive setting
    // (the session default). On a real cluster AQE is a deploy-time
    // knob (CLUSTER.md maps each family to its settings), and a shape
    // that only holds because AQE rescues it at runtime — or that AQE
    // itself regresses — must fail loudly here. Pins are the
    // bench-record heaviest by wall time (incl. the r16 graph-ANN
    // additions) plus the two recurring LSH
    // watch items; markers are each query's established static-plan
    // invariants, checked identically under both settings, plus the
    // global no-partition-less-window rule.
    // The LSH pair (and their compositions) truncate lineage inside the
    // gated query, which hides the shape from explain — those pins
    // audit the same UNtruncated composition their individual audits
    // use, rebuilt lazily per AQE setting.
    import graft.ops.Dedup
    def lazyMinhash(): DataFrame = {
      val toks = Dedup.tokenSet(
        graft.util.Tables.documents(spark, sfDir), "text", "doc_id")
      Dedup.verifyJaccard(toks,
        Dedup.candidatesFromBands(Dedup.minHashBandsWide(toks, 16, 2)))
    }
    def lazyIncrementalLsh(): DataFrame = {
      val d = graft.util.Tables.documents(spark, sfDir).select("doc_id", "text")
      Dedup.incrementalLsh(d,
        d.filter(org.apache.spark.sql.functions.expr("doc_id % 25 = 0")),
        "text", "doc_id", materialize = false)
    }
    // the beam search truncates lineage per round (the plan a gated
    // graph-ANN query explains is just the rank window over the cut),
    // so the shape audit rebuilds ONE untruncated round — entry
    // scoring + expansion + rerank — via the truncate=false seam (the
    // pageRank checkpoint=false pattern)
    def lazyGraphRound(): DataFrame = {
      val emb = graft.util.Tables.embeddings(spark, sfDir)
      val g = graft.sim.Similarity.nnDescent(emb, "embedding", "vec_id",
        k = 4, iters = 0, buckets = 10, Some(64))
      graft.sim.Similarity.graphSearch(emb, g, "embedding", "vec_id",
        org.apache.spark.sql.functions.expr("id % 50 = 0"), entries = 2,
        beam = 2, rounds = 1, topK = 3, Some(64), truncate = false)
    }
    val pins: Seq[(String, () => DataFrame, Seq[String], Seq[String])] = Seq(
      ("graph_cc", () => q("graph_cc"), Nil, Seq("CartesianProduct")),
      ("profile_histogram_eq", () => q("profile_histogram_eq"),
        Seq("BroadcastExchange"), Seq("CartesianProduct")),
      ("dedup_cdc_chunks", () => q("dedup_cdc_chunks"),
        Seq("partial_"), Seq("CartesianProduct")),
      ("pipeline_train_corpus", () => q("pipeline_train_corpus"),
        Nil, Seq("CartesianProduct")),
      // the scan-spread doc_id repartition is the one allowed exchange
      ("text_winnow", () => q("text_winnow"), Nil,
        Seq("RoundRobinPartitioning", "rangepartitioning", "CartesianProduct")),
      ("q_fuzzy_join", () => q("q_fuzzy_join"),
        Seq("BroadcastHashJoin"), Seq("CartesianProduct")),
      ("text_cdc_chunk", () => q("text_cdc_chunk"), Nil,
        Seq("RoundRobinPartitioning", "rangepartitioning", "CartesianProduct")),
      ("text_ppl_bucket", () => q("text_ppl_bucket"),
        Seq("partial_"), Seq("CartesianProduct")),
      ("ann_ivf_search", () => q("ann_ivf_search"),
        Seq("BroadcastHashJoin"), Seq("CartesianProduct", "SortMergeJoin")),
      ("ann_ivf_delete", () => q("ann_ivf_delete"),
        Nil, Seq("CartesianProduct", "SortMergeJoin")),
      // BNLJ is allowed here: the 16-row salt grid replicates via a
      // bounded broadcast cross join (the documented salting shape)
      ("dedup_minhash_lsh(untruncated)", () => lazyMinhash(),
        Seq("partial_min"), Seq("CartesianProduct")),
      ("dedup_incremental_lsh(untruncated)", () => lazyIncrementalLsh(),
        Seq("graft_intersect_size", "BroadcastHashJoin"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // r15: the gram-factored MMD is ONE untruncated plan — the
      // d^2/2 explode must partial-aggregate before the exchange and
      // the corpus must never pair-join (the full-outer is the
      // 2080-row dimension contraction, not a data join)
      ("emb_mmd", () => q("emb_mmd"),
        Seq("partial_"), Seq("CartesianProduct")),
      // r16: the two new bench heavies. The persisted search's gated
      // plan is the post-cut tail — the pin holds the qid-partitioned
      // rank window (the loose-window sweep below) and keeps loop
      // joins out of the tail; the untruncated round carries the real
      // shape: frontier/probe sides broadcast, scoring joins stay
      // keyed equi-joins, the only loop join is the bounded
      // entries-row broadcast cross (BNLJ allowed, cartesian never).
      // SortMergeJoin is NOT forbidden on the untruncated round: the
      // corpus-side scoring/anti joins are keyed, and at scale a
      // shuffle join on them is the correct physical choice — the
      // broadcast marker pins the frontier side only
      ("ann_graph_persisted", () => q("ann_graph_persisted"),
        Nil, Seq("CartesianProduct", "SortMergeJoin")),
      ("ann_graph_search(untruncated round)", () => lazyGraphRound(),
        Seq("BroadcastHashJoin"), Seq("CartesianProduct")))
    for (aqe <- Seq("true", "false")) {
      withSQLConf("spark.sql.adaptive.enabled" -> aqe) {
        for ((name, build, must, mustNot) <- pins) {
          spark.catalog.clearCache()
          val df = build()
          val plan = formatted(df)
          for (m <- must)
            assert(plan.contains(m), s"[$name aqe=$aqe] plan lost marker '$m'")
          for (m <- mustNot)
            assert(!plan.contains(m), s"[$name aqe=$aqe] plan grew '$m'")
          val loose = df.queryExecution.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
          }
          assert(loose.isEmpty,
            s"[$name aqe=$aqe] partition-less window entered the plan")
        }
      }
    }
  }

  test("Explain: --cut is the only flag, any other is a usage error") {
    assert(Explain.parseArgs(Seq("--cut", "q1_agg")) == ((true, Seq("q1_agg"))))
    assert(Explain.parseArgs(Seq("q1_agg", "q3_join_agg")) == ((false, Seq("q1_agg", "q3_join_agg"))))
    val e = intercept[IllegalArgumentException](Explain.parseArgs(Seq("--cutt", "q1_agg")))
    assert(e.getMessage.contains("--cutt"))
  }
}
