package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Classifier, Dedup, Sampling, TextAnalysis}

/** Config-driven corpus-pipeline runner — the curation-side analogue
  * of the `Replicate` CLI (which drives CDC from sslr.json): a JSON
  * file names an input table, an ordered stage list, and an output
  * path, and the engine assembles ONE composed DataFrame plan and
  * writes the result. Stages compose lazily, so Catalyst optimizes
  * across stage boundaries (a later stage's column pruning reaches
  * the scan) and nothing materializes between stages unless a stage
  * is explicitly iterative.
  *
  * Config shape:
  * {{{
  * { "input":  "/data/documents.parquet",
  *   "output": "/data/clean",
  *   "textCol": "text", "idCol": "doc_id",
  *   "stages": [
  *     {"op": "gopher_filter"},
  *     {"op": "scrub"},
  *     {"op": "dedup_exact"},
  *     {"op": "df_prune", "maxDfShare": 0.5},
  *     {"op": "quality_band", "stratum": "lang"},
  *     {"op": "group_cap", "group": "source", "k": 100},
  *     {"op": "sample", "rate": 0.5, "salt": "epoch0"},
  *     {"op": "shard", "numShards": 8} ] }
  * }}}
  *
  * Filter stages keep the full row schema (incl. the corpus-global
  * `dedup_exact`/`dedup_minhash` and the probe-file-driven
  * `decontaminate`/`coverage_filter`); rewrite stages
  * (`scrub`, `df_prune`, `dedup_lines`, `dedup_spans`) replace the
  * text column in place; `chunk` changes granularity (doc rows →
  * token-window chunk rows, metadata carried, chunk_key as the new
  * row key) and may be followed only by `pack`; `pack`/`shard` must
  * be last (they fix the physical layout) and the writer partitions
  * by the shard column so downstream training readers get one dir
  * per shard.
  */
object Pipeline {

  /** Apply one named stage. Unknown ops fail loudly — a typo'd config
    * must never silently skip a cleaning stage.
    */
  private[graft] def applyStage(df: DataFrame, op: String, node: JsonNode,
                                textCol: String, idCol: String): DataFrame = {
    def intOf(field: String, dflt: Int): Int =
      if (node.has(field)) node.get(field).asInt() else dflt
    def dblOf(field: String, dflt: Double): Double =
      if (node.has(field)) node.get(field).asDouble() else dflt
    def strOf(field: String, dflt: String): String =
      if (node.has(field)) node.get(field).asText() else dflt
    def lngOf(field: String, dflt: Long): Long =
      if (node.has(field)) node.get(field).asLong() else dflt
    def reqStr(field: String): String =
      if (node.has(field)) node.get(field).asText()
      else throw new IllegalArgumentException(s"stage '$op' requires '$field'")
    op match {
      case "gopher_filter" =>
        df.join(TextAnalysis.gopherFilter(df, textCol, idCol)
            .filter(col("gopher_mask") === 0L).select(idCol),
          Seq(idCol), "left_semi")
      case "c4_filter" =>
        // the C4 page-cleaning REWRITE: surviving pages with text
        // replaced by the kept lines (terminal punctuation, min words,
        // no javascript; page: min lines, no lorem ipsum / braces)
        TextAnalysis.c4Clean(df, textCol, idCol,
          lngOf("minWordsPerLine", 5L).toInt, lngOf("minLines", 3L).toInt)
      case "ocr_filter" =>
        // drop docs whose OCR character-confusion rate crosses flagPpm
        // (pure per-row — no join, streams)
        TextAnalysis.ocrFilter(df, textCol, lngOf("flagPpm", 100000L))
      case "entropy_filter" =>
        // distribution-level quality gate: keep docs whose PER-CHAR
        // entropy sits inside [min,max] micro-nats (low = boilerplate/
        // padding, near ln(alphabet)·10⁶ ≈ 3.6M = key-mash noise).
        // Thresholds are ABSOLUTE, so unlike quality_band's
        // corpus-derived band edges this is a pure per-row function —
        // streaming-safe. Compared multiplied out (ent ≥ lo·n) to stay
        // integer-exact; a positive floor drops empty docs (their
        // 0 ≥ lo·0 would otherwise sneak through a min-entropy gate)
        val lo = lngOf("minMicroNatsPerChar", 0L)
        val hi = lngOf("maxMicroNatsPerChar", 4000000L)
        val band = col("ent_micro") >= lit(lo) * col("n_chars") &&
          col("ent_micro") <= lit(hi) * col("n_chars") &&
          (if (lo > 0L) col("n_chars") > 0 else lit(true))
        df.join(TextAnalysis.entropy(df, textCol, idCol)
            .filter(band).select(idCol),
          Seq(idCol), "left_semi")
      case "readability_filter" =>
        // audience cut on the integer Flesch–Kincaid grade band:
        // absolute thresholds over a pure per-row function (the
        // entropy_filter pattern) — streaming-safe; minWords floors
        // out headline fragments whose grade is meaningless
        val loG = lngOf("minGradeMilli", Long.MinValue)
        val hiG = lngOf("maxGradeMilli", Long.MaxValue)
        val minW = lngOf("minWords", 1L)
        df.join(TextAnalysis.readability(df, textCol, idCol)
            .filter(col("n_words") >= minW &&
              col("fk_grade_milli") >= loG && col("fk_grade_milli") <= hiG)
            .select(idCol),
          Seq(idCol), "left_semi")
      case "code_filter" =>
        // route code: mode=drop removes flagged docs, mode=keep keeps
        // ONLY them (the split a mixed corpus runs before tokenizer
        // choice). Pure per-row flag — streaming-safe
        val keepCode = strOf("mode", "drop") match {
          case "keep" => 1; case "drop" => 0
          case other => throw new IllegalArgumentException(
            s"stage 'code_filter' mode must be keep|drop, got '$other'")
        }
        df.join(TextAnalysis.codeDetect(df, textCol, idCol)
            .filter(col("is_code") === keepCode).select(idCol),
          Seq(idCol), "left_semi")
      case "bpe_tokens" =>
        // annotation, not a filter: adds the REAL tokenizer token
        // count per doc from a trained merge table ("merges": parquet
        // path of a graft.ops.Bpe.train output). With the table fixed
        // on disk this is a pure per-row function — streaming-safe —
        // and downstream budget/pack stages can price rows in the
        // unit the training run actually spends
        graft.ops.Bpe.annotateTokens(df, textCol,
          strOf("outCol", "bpe_tokens"), reqStr("merges"))
      case "unigram_tokens" =>
        // annotation: real unigram-LM token counts from a trained
        // piece table ("vocab": parquet path of graft.ops.Unigram
        // .train output) — bpe_tokens' sibling; fixed table on disk =>
        // pure per-row function, streaming-safe
        graft.ops.Unigram.annotateTokens(df, textCol,
          strOf("outCol", "unigram_tokens"), reqStr("vocab"))
      case "wordpiece_tokens" =>
        // annotation: WordPiece token counts from a trained vocab
        // ("vocab": parquet path of graft.ops.WordPiece.trainVocab
        // output) — the third tokenizer-pricing sibling; fixed table
        // on disk => pure per-row function, streaming-safe
        graft.ops.WordPiece.annotateTokens(df, textCol,
          strOf("outCol", "wordpiece_tokens"), reqStr("vocab"))
      case "split" =>
        // annotation: train/val/test membership as a column — a pure
        // per-row hash threshold (Sampling.splitAssign), so it is
        // streaming-safe and stable under corpus growth; run the
        // sample_split AUDIT (leakage counters) before trusting the
        // held-out sets of a corpus with near-dups
        df.withColumn(strOf("outCol", "split"),
          Sampling.splitAssign(col(idCol), lngOf("valPm", 500L),
            lngOf("testPm", 100L), strOf("salt", "split")))
      case "dedup_exact" =>
        df.join(Dedup.exact(df, textCol, idCol)
            .select(col("keeper_id").as(idCol)),
          Seq(idCol), "left_semi")
      case "html_extract" =>
        // per-row in-place rewrite (raw markup column → extracted
        // text): metadata columns ride along, zero exchanges added —
        // the stage between a warc/responses feed and the text chain
        df.withColumn(textCol, TextAnalysis.htmlTextExpr(col(textCol)))
      case "markdown_extract" =>
        // the markdown half of the markup boundary, same in-place
        // per-row contract as html_extract
        df.withColumn(textCol, TextAnalysis.markdownTextExpr(col(textCol)))
      case "scrub" =>
        df.drop(textCol).join(
          TextAnalysis.scrub(df, textCol, idCol)
            .select(col(idCol), col("scrubbed").as(textCol)),
          Seq(idCol))
      case "df_prune" =>
        df.drop(textCol).join(
          TextAnalysis.dfPrune(df, textCol, idCol, dblOf("maxDfShare", 0.5))
            .select(col(idCol), col("pruned").as(textCol)),
          Seq(idCol))
      case "quality_band" =>
        df.join(TextAnalysis.qualityBand(df, textCol, idCol,
            reqStr("stratum")).select(idCol),
          Seq(idCol), "left_semi")
      case "group_cap" =>
        Sampling.groupCap(df, reqStr("group"), idCol, intOf("k", 100),
          strOf("salt", "graft")).drop("pos")
      case "weighted_cap" =>
        // per-group cap with inclusion odds ∝ doc length (A-ES):
        // keep each domain's WELL-SIZED docs, not a uniform k. Floor
        // the weight at 1: an empty doc's weight 0 would violate the
        // sampler's strictly-positive precondition (-ln(u)/0 = ∞)
        Sampling.weightedGroupSample(df, reqStr("group"), idCol,
          greatest(lit(1), length(col(textCol))).cast("double"), intOf("k", 100),
          strOf("salt", "graft")).drop("pos", "ekey_micro")
      case "sample" =>
        Sampling.uniform(df, idCol, dblOf("rate", 1.0), strOf("salt", "graft"))
      case "dedup_lines" =>
        df.drop(textCol).join(
          Dedup.dedupLines(df, textCol, idCol,
              maxCount = intOf("maxCount", 1).toLong, sep = strOf("sep", "\n"))
            .select(col(idCol), col("clean_text").as(textCol)),
          Seq(idCol))
      case "dedup_spans" =>
        df.drop(textCol).join(
          Dedup.dedupSpans(
              df.withColumn(textCol, TextAnalysis.normalize(col(textCol))),
              textCol, idCol, k = intOf("k", 8),
              maxCount = intOf("maxCount", 1).toLong)
            .select(col(idCol), col("clean_text").as(textCol)),
          Seq(idCol))
      case "lang_filter" =>
        val keepNode = node.get("keep")
        require(keepNode != null && keepNode.isArray && keepNode.size() > 0,
          "stage 'lang_filter' requires a non-empty 'keep' array")
        val keep = (0 until keepNode.size()).map(keepNode.get(_).asText())
        df.join(TextAnalysis.langId(df, textCol, idCol)
            .filter(col("lang_pred").isin(keep: _*)).select(idCol),
          Seq(idCol), "left_semi")
      case "decontaminate" =>
        // probe rows carry a sentinel id: only their distinct n-grams
        // are used (broadcast), never their ids or row identity. The
        // sentinel is cast to the INPUT's id type — only the __p flag
        // distinguishes probe rows, so any id type works
        val probe = df.sparkSession.read.parquet(reqStr("probePath"))
          .select(lit(-1L).cast(df.schema(idCol).dataType).as(idCol),
            col(strOf("probeTextCol", textCol)).as(textCol))
        val combined = df.select(col(idCol), col(textCol)).withColumn("__p", lit(false))
          .unionByName(probe.withColumn("__p", lit(true)))
        val flagged = TextAnalysis.contamination(combined, textCol, idCol,
          col("__p"), n = intOf("n", 3), minShared = intOf("minShared", 5))
          .filter(col("contaminated") === 1)
        df.join(flagged.select(idCol), Seq(idCol), "left_anti")
      case "wordlist_filter" =>
        // C4-lineage policy-term drop: per-row against literal lists
        val ln = node.get("lists")
        require(ln != null && ln.isObject && ln.size() > 0,
          "stage 'wordlist_filter' requires a non-empty 'lists' object")
        val it = ln.fields()
        val lists = scala.collection.mutable.Map[String, Seq[String]]()
        while (it.hasNext) {
          val e = it.next()
          lists(e.getKey) =
            (0 until e.getValue.size()).map(e.getValue.get(_).asText())
        }
        val wlFlagged = TextAnalysis.wordlistScan(df, textCol, idCol,
            lists.toMap, lngOf("flagPpm", 0L))
          .filter(col("flagged") === 1).select(idCol).distinct()
        df.join(wlFlagged, Seq(idCol), "left_anti")
      case "canary" =>
        // memorization-audit canary injection: pure per-row function
        // of (salt, id) — streaming-safe, ground truth recomputable
        TextAnalysis.canary(df, textCol, idCol,
          ratePpm = lngOf("ratePpm", 10000L),
          salt = strOf("salt", "graft"))
      case "conformal_filter" =>
        // coverage-GUARANTEED quality filter (split conformal — the
        // quality_lr_conformal machinery as a runner stage): "labels"
        // names a parquet of (idCol, y) human/model-judged quality
        // labels for a SMALL subset of the corpus; the hashed-BoW LR
        // trains on the labeled rows OUTSIDE the hash-held-out fifth,
        // the threshold is the k-th smallest held-out POSITIVE score
        // with k = floor(α(n+1)), and the stage keeps corpus docs
        // scoring ≥ it — so ≥ 1−α of genuinely-good docs survive, by
        // exchangeability alone (proper split: calibration rows never
        // see training, unlike the self-trained gate query). An
        // under-populated calibration fifth (k < 1) keeps everything
        // and warns loudly rather than inventing a cut. Corpus-level
        // stage (a fitted transform): NOT reorderable, NOT streamable.
        val spark = df.sparkSession
        val alphaPpm = lngOf("alphaPpm", 200000L)
        val m = intOf("m", 256)
        val labels = spark.read.parquet(reqStr("labels"))
          .select(col(idCol), col(strOf("labelCol", "y")).cast("int").as("__y"))
        val lj = graft.util.Lineage.truncate(
          df.select(col(idCol), col(textCol)).join(labels, Seq(idCol))
            .withColumn("__cal", pmod(graft.util.Hashing.portableHash64(
              concat(lit("conf:"), col(idCol).cast("string"))),
              lit(5L)) === 0L))
        val trainSet = lj.filter(!col("__cal"))
        val weights = Classifier.train(trainSet, textCol, idCol,
          col("__y") === 1, m = m, iters = 1)
        val calScores = Classifier.score(
            lj.filter(col("__cal") && col("__y") === 1), textCol, idCol,
            weights, m)
          .select(col("doc_id").as("__cid"), col("score"))
        val nCal = calScores.count()
        val k = ((nCal + 1L) * alphaPpm) / 1000000L
        if (k < 1L) {
          System.err.println(s"[pipeline] conformal_filter: calibration " +
            s"fifth has only $nCal positives — too few for alphaPpm=" +
            s"$alphaPpm, keeping everything (label more data)")
          df
        } else {
          val thresh = calScores
            .orderBy(col("score").asc, col("__cid").asc).limit(k.toInt)
            .agg(max(col("score"))).first().getLong(0)
          // LEFT join + coalesce(score, 0): a doc with NULL/empty text
          // emits no feature rows and thus no score row — it must face
          // the threshold at score 0 (and survive one ≤ 0), exactly as
          // the k<1 degenerate path would keep it, not be dropped
          // unconditionally by a semi-join on the score table
          // reserved alias: the corpus may legitimately carry its own
          // `score` column (a generic runner stage over arbitrary doc
          // schemas) — joining an unrenamed score would be ambiguous
          val scores = Classifier.score(df, textCol, idCol, weights, m)
            .select(col("doc_id").as(idCol), col("score").as("__conf_score"))
          df.join(scores, Seq(idCol), "left")
            .filter(coalesce(col("__conf_score"), lit(0L)) >= thresh)
            .drop("__conf_score")
        }

      case "coverage_filter" =>
        // ratio sibling of decontaminate (same sentinel-probe
        // pattern): drop docs whose distinct-n-gram COVERAGE by the
        // probe file's gram set reaches maxCovPpm — the
        // variable-length-safe decontamination rule. Probe grams
        // derive solely from the probe file, so this is a pure
        // per-doc function: streaming-safe.
        val cprobe = df.sparkSession.read.parquet(reqStr("probePath"))
          .select(lit(-1L).cast(df.schema(idCol).dataType).as(idCol),
            col(strOf("probeTextCol", textCol)).as(textCol))
        val ccombined = df.select(col(idCol), col(textCol))
          .withColumn("__p", lit(false))
          .unionByName(cprobe.withColumn("__p", lit(true)))
        val kept = TextAnalysis.ngramCoverage(ccombined, textCol, idCol,
          col("__p"), n = intOf("n", 8),
          flagPpm = lngOf("maxCovPpm", 700000L))
          .filter(col("flagged") === 0)
        df.join(kept.select(idCol), Seq(idCol), "left_semi")
      case "temperature_mixture" =>
        // corpus-global rebalance: p_stratum ∝ share^(1/T); rates
        // derive from the corpus token totals, so this cannot run
        // per micro-batch (streamableOps excludes it)
        Sampling.temperatureMixture(df, reqStr("stratum"), idCol,
          size(split(TextAnalysis.normalize(col(textCol)), " ")),
          temperature = dblOf("temperature", 2.0),
          totalBudget = lngOf("budget", 0L) match {
            case 0L => throw new IllegalArgumentException(
              "stage 'temperature_mixture' requires 'budget'")
            case b => b
          },
          salt = strOf("salt", "graft")).drop("n_tokens")
      case "token_budget" =>
        // denomination: whitespace tokens by default; "tokenizer":
        // "bpe" + "merges": <parquet path of a graft.ops.Bpe.train
        // table> prices admission in REAL tokenizer tokens — the unit
        // the training budget is actually spent in
        val tokens = strOf("tokenizer", "whitespace") match {
          case "whitespace" =>
            size(split(TextAnalysis.normalize(col(textCol)), " "))
          case "bpe" =>
            graft.ops.Bpe.tokenCountCol(col(textCol),
              graft.ops.Bpe.collectMerges(
                df.sparkSession.read.parquet(reqStr("merges"))))
          case other => throw new IllegalArgumentException(
            s"stage 'token_budget': unknown tokenizer '$other' " +
              "(expected 'whitespace' or 'bpe')")
        }
        Sampling.tokenBudget(df, reqStr("stratum"), idCol, tokens,
          budgets = Map.empty,
          defaultBudget = node.get("budget") match {
            case null => throw new IllegalArgumentException(
              "stage 'token_budget' requires 'budget'")
            case b => b.asLong()
          },
          salt = strOf("salt", "graft")).drop("n_tokens")
      case "ppl_bucket" =>
        // corpus-global perplexity routing (CCNet head/middle/tail):
        // annotates each doc's tercile bucket; "keep" (comma list,
        // e.g. "head,middle") filters to those buckets — docs too
        // short to score carry bucket "unscored" and survive only an
        // unfiltered run (visible, not vanished). Two corpus passes
        // (LM + edges) ⇒ batch-only; streamableOps excludes it.
        val buckets = graft.ops.TextAnalysis.pplBucket(df, textCol, idCol)
          .select(col("doc_id").as(idCol), col("bucket"))
        val annotated = df.join(buckets, Seq(idCol), "left")
          .withColumn(strOf("outCol", "ppl_bucket"),
            coalesce(col("bucket"), lit("unscored")))
          .drop("bucket")
        node.get("keep") match {
          case null => annotated
          case k => annotated.filter(
            col(strOf("outCol", "ppl_bucket"))
              .isin(k.asText().split(",").map(_.trim).toSeq: _*))
        }
      case "dedup_minhash" =>
        // corpus-global near-dup removal: MinHash-LSH pairs → connected
        // components → keep the smallest id per cluster (left_anti on
        // the losers keeps the full row schema)
        graft.ops.Dedup.dedupedCorpus(df, textCol, idCol,
          numHashes = intOf("numHashes", 16), numBands = intOf("numBands", 2),
          threshold = dblOf("threshold", 0.7))
      case "dedup_winnow" =>
        // corpus-global SUBSTRING-level near-dup removal (the MOSS
        // shape): winnowed-fingerprint pairs → connected components →
        // keep the smallest id per passage-sharing cluster. Catches
        // docs embedding a common passage that dedup_minhash's
        // token-set similarity scores below threshold
        graft.ops.Dedup.keepCanonical(df, idCol)(
          TextAnalysis.winnowPairs(_, textCol, idCol,
            k = intOf("k", 8), w = intOf("w", 4),
            minShared = intOf("minShared", 10), maxDf = intOf("maxDf", 1000)))
      case "embed" =>
        // ANNOTATION via the Arrow model-scoring seam (ArrowEmbed):
        // rows gain a fixed-dim float32 vector computed through real
        // Arrow record batches — the callee here is the deterministic
        // stub (no Python worker in-container); a real model swaps the
        // callee, not this plumbing. The vectors come back keyed by id
        // and rejoin the row (an id-keyed shuffle join — co-partitioned
        // with any downstream id work; the seam itself is map-only)
        val dim = intOf("dim", 16)
        df.join(graft.ops.ArrowEmbed.embedStage(df, textCol, idCol,
            new graft.ops.ArrowEmbed.HashStubEmbedder(dim),
            intOf("maxBatchRows", 256)),
          Seq(idCol))
      case "chunk" =>
        // granularity change: doc rows → overlapping token-window chunk
        // rows; metadata columns ride through the per-row explode
        // (zero shuffle), the text column becomes the chunk text, and
        // chunk_key is the new unique row key downstream pack orders by
        val carry = df.columns.filterNot(c => c == idCol || c == textCol).toSeq
        TextAnalysis.chunk(df, textCol, idCol,
            intOf("size", 512), intOf("overlap", 64), carry)
          .withColumn("chunk_key", concat(col(idCol).cast("string"),
            lit("#"), col("chunk_id").cast("string")))
          .withColumnRenamed("chunk", textCol)
      case "pack" =>
        // fixed-token-budget sequence packing; rows already chunked
        // carry their n_tokens and unique chunk_key, whole docs fall
        // back to idCol + a whitespace token count. One shard exchange,
        // no assignment rejoin (carry columns ride the window)
        val key = if (df.columns.contains("chunk_key")) "chunk_key" else idCol
        val tok =
          if (df.columns.contains("n_tokens")) col("n_tokens")
          else size(split(TextAnalysis.normalize(col(textCol)), " "))
        val carry = df.columns.filterNot(c => c == key || c == "n_tokens").toSeq
        graft.ops.Packing.packSequences(
          df.withColumn("n_tokens", tok.cast("long")), key, "n_tokens",
          lngOf("budget", 2048L), intOf("nShards", 8), carry)
      case "shard" =>
        Sampling.shards(df, idCol, intOf("numShards", 8),
          strOf("salt", "graft"))
      case "curriculum" =>
        // training-order address like `shard`, but band-first: the
        // quality band rides along as a column; the salt is the
        // per-epoch within-band reshuffle knob
        df.join(
          Sampling.curriculum(df, textCol, idCol,
            bandWidthMicro = intOf("bandWidthMicro", 2000000).toLong,
            maxBand = intOf("maxBand", 4), salt = strOf("salt", "graft"))
            .select(col(idCol), col("band"), col("pos")),
          Seq(idCol))
      case other =>
        throw new IllegalArgumentException(
          s"unknown pipeline stage '$other' — a typo'd config must not " +
            "silently skip a cleaning stage")
    }
  }

  /** Assemble the configured stage chain into ONE lazy DataFrame —
    * split from [[run]] so tests can audit the composed plan the same
    * way PlanAuditSpec audits individual queries.
    */
  def assemble(spark: SparkSession, configJson: String): DataFrame = {
    val root = new ObjectMapper().readTree(configJson)
    def req(f: String): String =
      if (root.has(f)) root.get(f).asText()
      else throw new IllegalArgumentException(s"config requires '$f'")
    assembleFrom(spark.read.parquet(req("input")), root)
  }

  /** [[assemble]] over a caller-provided input frame — [[run]] wires
    * an observed input through here so the report counts ride the
    * write job instead of costing extra passes.
    */
  private def assembleFrom(input: DataFrame, root: JsonNode): DataFrame = {
    val textCol = if (root.has("textCol")) root.get("textCol").asText() else "text"
    val idCol = if (root.has("idCol")) root.get("idCol").asText() else "doc_id"
    val stages = root.get("stages")
    require(stages != null && stages.isArray && stages.size() > 0,
      "config requires a non-empty 'stages' array")
    val it = (0 until stages.size()).map(stages.get)
    it.zipWithIndex.foreach { case (n, i) =>
      require(n.has("op"), s"stage $i is missing 'op'") }
    // shard fixes the physical layout — nothing may run after it
    val ops = it.map(_.get("op").asText())
    val shardAt = ops.indexOf("shard")
    require(shardAt < 0 || shardAt == it.size - 1,
      "'shard' must be the last stage (it fixes the output layout)")
    // pack fixes the sequence layout (and emits the shard column the
    // writer partitions by) — nothing may run after it
    val packAt = ops.indexOf("pack")
    require(packAt < 0 || packAt == it.size - 1,
      "'pack' must be the last stage (it fixes the pack layout)")
    // curriculum positions are dense over the corpus AT the stage —
    // a later filter would punch holes in the training order
    val currAt = ops.indexOf("curriculum")
    require(currAt < 0 || currAt == it.size - 1,
      "'curriculum' must be the last stage (it fixes the training order)")
    // chunk rows are NOT doc rows: the doc id is no longer unique, so
    // any id-keyed stage after chunk would mis-join — only pack (which
    // orders by chunk_key) may follow
    val chunkAt = ops.indexOf("chunk")
    require(chunkAt < 0 || ops.drop(chunkAt + 1).forall(_ == "pack"),
      "'chunk' may be followed only by 'pack' (chunk rows are not doc " +
        "rows; id-keyed stages would mis-join)")
    it.foldLeft(input) { (df, n) =>
      applyStage(df, n.get("op").asText(), n, textCol, idCol)
    }
  }

  /** Stages whose semantics are PER-ROW (pure functions of each doc):
    * safe to apply per micro-batch. Everything else is corpus-global
    * — running it per batch silently changes meaning (a per-batch
    * "dedup_exact" only dedups within the trigger), so [[stream]]
    * refuses and names the real streaming counterpart.
    */
  // decontaminate/coverage_filter qualify even though they read a
  // probe FILE: the probe gram set derives from that file alone (the
  // sentinel __p rows), never from the batch, so each doc's verdict is
  // a pure function of the doc — replay-identical, batch-composable.
  // embed qualifies: the vector is a pure function of the doc's text
  // (the stub hashes text bytes; a real model is also per-doc), so
  // replays rewrite identical vectors
  private val streamableOps = Set("gopher_filter", "entropy_filter", "scrub",
    "html_extract", "markdown_extract", "lang_filter", "sample", "chunk",
    "bpe_tokens", "decontaminate", "coverage_filter", "canary",
    "wordlist_filter", "split", "unigram_tokens", "wordpiece_tokens",
    "readability_filter",
    "code_filter", "c4_filter", "ocr_filter", "embed")

  /** Whether `op` is per-row pure and therefore accepted by [[stream]]. */
  private[graft] def streamableOp(op: String): Boolean = streamableOps(op)

  /** Stages that are pure per-row FILTERS of unchanged rows — they drop
    * rows, never rewrite text or add columns — so any permutation of a
    * consecutive run of them keeps the surviving set identical (set
    * intersection commutes). Rewrites (scrub, c4_filter, extracts),
    * annotations (tokens, split, canary, embed) and corpus-global
    * stages (dedup, df_prune, quality_band, caps) are fences: the
    * reorderer never moves a stage across one. */
  private[graft] val reorderableOps = Set("gopher_filter", "entropy_filter",
    "readability_filter", "code_filter", "lang_filter", "ocr_filter",
    "wordlist_filter", "sample", "decontaminate", "coverage_filter")

  /** Static relative per-row cost of each filter (heuristic weights:
    * hash-only < per-char scans < regex batteries < n-gram probes).
    * Since round 14 this table is the TIE-BREAK and FALLBACK only —
    * the primary cost evidence is the timed probe (see [[reorder]]);
    * the table decides equal-score ties and degenerate timings. */
  private val stageCost: Map[String, Long] = Map(
    "sample" -> 1L,
    "entropy_filter" -> 3L, "code_filter" -> 3L,
    "readability_filter" -> 3L, "ocr_filter" -> 3L,
    "lang_filter" -> 4L, "wordlist_filter" -> 4L,
    "gopher_filter" -> 5L,
    "decontaminate" -> 6L, "coverage_filter" -> 6L
  ).withDefaultValue(4L)

  /** Timing floor for a usable probe: a count that returns in under
    * 1 ms is dominated by scheduler jitter, not filter work — below
    * it the reorderer falls back to the static table. */
  private val MIN_PROBE_NS = 1000000L

  /** Default probe: run the count 3× and keep the MINIMUM wall time
    * (the min sheds the first run's whole-stage-codegen compile and
    * any GC/scheduler spike; the count itself is deterministic, so
    * repeats are free re-measurements of the same work). */
  private def timedProbe(op: String, count: () => Long): (Long, Long) = {
    var kept = 0L
    val ns = (0 until 3).map { _ =>
      val t0 = System.nanoTime(); kept = count(); System.nanoTime() - t0
    }.min
    (kept, ns)
  }

  /** COST-BASED stage reorder — the predicate-ordering classic applied
    * to the stage list: within each maximal run of consecutive
    * [[reorderableOps]] filters, measure every filter's drop rate
    * independently on a deterministic hash sample of the run's input
    * (the preceding stages applied to the sample first), then order
    * the run by drop-per-unit-cost descending — unit cost is the
    * TIMED probe, quantized (see below) — with ties broken by static
    * cost then the config's original order (stable). Returns the
    * reordered config JSON; everything else is byte-preserved.
    *
    * Result-equality is by construction: only pure row-predicate
    * filters permute, and only within fence-free runs — the surviving
    * set is the same intersection either way (spec-pinned against the
    * assembled plans). The win is the usual one: a cheap selective
    * filter (a 1% sample, a rare-language keep) runs before an
    * expensive mild one, so the expensive predicate sees 100× fewer
    * rows. Catalyst cannot make this call — the filters are id-join
    * gates behind opaque scoring ops, not pushable scan predicates —
    * so the stage list is the right place to decide order, and a
    * sampled selectivity probe (cost: |sample| × run length, one
    * count per filter) is the right evidence.
    *
    * Costs are MEASURED, not assumed (the r13-verdict ask): each
    * filter's probe count is timed (min of 3 — the min sheds the
    * first run's codegen compile and scheduler jitter), a no-op count
    * of the same input is timed once per run as the baseline, and the
    * baseline is SUBTRACTED before bucketing — every probe pays the
    * same scan/deserialize floor, so the subtracted times isolate
    * filter work and their ratio is the per-row cost ratio (without
    * the subtraction a scan-dominated probe compresses genuinely
    * different filter costs into one bucket). Raw nanoseconds would
    * make planning
    * nondeterministic, so measured costs quantize to the power-of-2
    * ratio over the run's cheapest filter — timing noise under ~40%
    * never flips a bucket — and the static [[stageCost]] table
    * remains the tie-break between equal scores and the fallback when
    * timing is degenerate (any probe under the 1 ms floor, where
    * jitter outweighs signal).
    *
    * Determinism: the sample is a portable-hash keep rule, the probe
    * counts are exact over it, measured costs are bucketed, the sort
    * is stable — same data + same config → same order, so a re-run
    * plans identically (the quantization caveat: a true cost ratio
    * sitting exactly on a bucket boundary can flip under noise; the
    * static tie-break then still pins equal-bucket, equal-drop pairs).
    *
    * `probe` is the timing seam: (op name, count thunk) → (kept rows,
    * representative ns). Injectable so specs can pin the demotion
    * behavior with a deterministic clock; production uses real time.
    */
  def reorder(spark: SparkSession, configJson: String,
              sampleRatePpm: Long = 20000L,
              probe: (String, () => Long) => (Long, Long) = timedProbe): String = {
    require(sampleRatePpm > 0 && sampleRatePpm <= 1000000L,
      s"sampleRatePpm must be in (0, 1000000], got $sampleRatePpm")
    val mapper = new ObjectMapper()
    val root = mapper.readTree(configJson)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val textCol = if (root.has("textCol")) root.get("textCol").asText() else "text"
    val idCol = if (root.has("idCol")) root.get("idCol").asText() else "doc_id"
    val stages = root.get("stages")
    require(stages != null && stages.isArray && stages.size() > 0,
      "config requires a non-empty 'stages' array")
    val nodes = (0 until stages.size()).map(stages.get).toVector
    val ops = nodes.map(_.get("op").asText())
    // deterministic hash sample of the input; truncate so the probe
    // counts don't re-run the scan per filter
    val sample = graft.util.Lineage.truncate(
      readInput(spark, root).filter(
        pmod(graft.util.Hashing.portableHash64(
          concat(lit("graft:reorder:"), col(idCol).cast("string"))),
          lit(1000000L)) < lit(sampleRatePpm)))
    var cur = sample
    var curN = cur.count()
    val order = scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < nodes.size) {
      if (reorderableOps(ops(i))) {
        var j = i
        while (j < nodes.size && reorderableOps(ops(j))) j += 1
        val run = i until j
        if (run.size >= 2 && curN > 0) {
          // the shared scan/deserialize floor, timed once per run on a
          // no-op count of the same input and subtracted from every
          // filter probe below; a filter whose work disappears into
          // the floor lands under MIN_PROBE_NS and the run falls back
          // to the static table (jitter is not evidence)
          val baseNs = probe("__baseline", () => cur.count())._2
          // probe each filter in original order: kept-count + timing
          val measured = run.map { idx =>
            val df = applyStage(cur, ops(idx), nodes(idx), textCol, idCol)
            val (kept, ns) = probe(ops(idx), () => df.count())
            (idx, kept, math.max(ns - baseNs, 1L))
          }
          val minNs = measured.map(_._3).min
          val costOf: Map[Int, Long] =
            if (minNs >= MIN_PROBE_NS)
              measured.map { case (idx, _, ns) =>
                idx -> math.max(1L, 1L << math.min(62,
                  math.round(math.log(ns.toDouble / minNs) /
                    math.log(2.0)).toInt))
              }.toMap
            else run.map(idx => idx -> stageCost(ops(idx))).toMap
          val scored = measured.map { case (idx, kept, _) =>
            // drop-ppm per unit cost; exact integer arithmetic
            val dropPpm = (curN - kept) * 1000000L / curN
            (idx, dropPpm * 1000L / costOf(idx))
          }
          order ++= scored
            .sortBy { case (idx, score) => (-score, stageCost(ops(idx)), idx) }
            .map(_._1)
        } else order ++= run
        // advance the probe input past the whole run (original order —
        // the surviving sample set is order-independent by the same
        // argument that makes the permutation safe)
        run.foreach(idx =>
          cur = applyStage(cur, ops(idx), nodes(idx), textCol, idCol))
        i = j
      } else {
        // fence: applied to the probe sample as-is. Corpus-global
        // stages on a sample are approximations OF THE PROBE ONLY —
        // they decide later runs' selectivity estimates, never results
        cur = applyStage(cur, ops(i), nodes(i), textCol, idCol)
        order += i
        i += 1
      }
      cur = graft.util.Lineage.truncate(cur)
      curN = cur.count()
    }
    val newArr = mapper.createArrayNode()
    order.foreach(idx => newArr.add(nodes(idx)))
    root.set("stages", newArr)
    mapper.writeValueAsString(root)
  }
  private val streamingCounterpart = Map(
    "dedup_exact" -> "graft.streaming.CdcStream.exactDedupStream",
    "dedup_minhash" -> "graft.streaming.CdcStream.nearDupStream",
    "dedup_winnow" -> ("a corpus-global pass (batch Pipeline.run: " +
      "fingerprint df and pair clusters are corpus-wide)"),
    "pack" -> "a corpus-global pass (batch Pipeline.run: packs are a corpus-wide prefix sum)",
    "dedup_lines" -> "a corpus-global pass (batch Pipeline.run)",
    "dedup_spans" -> "a corpus-global pass (batch Pipeline.run)",
    "df_prune" -> "a corpus-global pass (batch Pipeline.run)",
    "quality_band" -> "a corpus-global pass (batch Pipeline.run)",
    "token_budget" -> "a corpus-global pass (batch Pipeline.run)",
    "temperature_mixture" -> ("a corpus-global pass (batch Pipeline.run: " +
      "rates derive from corpus token totals)"),
    "group_cap" -> "graft.streaming.QuotaStream (lifetime caps)",
    "weighted_cap" -> "graft.streaming.QuotaStream (lifetime caps)",
    "shard" -> "batch Pipeline.run (shard fixes a corpus-wide layout)")

  /** Streaming mode: apply the configured PER-ROW stages to every
    * micro-batch of new parquet files under the config's `input`,
    * writing admitted rows to deterministic `batch=<id>` overwrites
    * (per-row stages are pure functions of each doc, so at-least-once
    * replays rewrite identical bytes). A config naming a
    * corpus-global stage fails loudly with the counterpart that HAS
    * the right cross-batch semantics — per-batch "dedup" is a
    * silent-meaning-change, not a smaller version of the same thing.
    */
  def stream(spark: SparkSession, configJson: String,
             checkpoint: String,
             maxFilesPerTrigger: Int = 10): org.apache.spark.sql.streaming.StreamingQuery = {
    val root = new ObjectMapper().readTree(configJson)
    def req(f: String): String =
      if (root.has(f)) root.get(f).asText()
      else throw new IllegalArgumentException(s"config requires '$f'")
    val textCol = if (root.has("textCol")) root.get("textCol").asText() else "text"
    val idCol = if (root.has("idCol")) root.get("idCol").asText() else "doc_id"
    val stages = root.get("stages")
    require(stages != null && stages.isArray && stages.size() > 0,
      "config requires a non-empty 'stages' array")
    val it = (0 until stages.size()).map(stages.get)
    it.foreach { n =>
      val op = n.get("op").asText()
      if (!streamableOps(op))
        throw new IllegalArgumentException(
          s"stage '$op' is corpus-global and cannot run per micro-batch " +
            s"— use ${streamingCounterpart.getOrElse(op, "the batch runner")}")
    }
    val srcDir = req("input")
    val outDir = req("output")
    // an ingestion dir is often EMPTY when the monitor launches —
    // configs may name a schema source (any parquet with the feed's
    // schema) or give the schema as a DDL string; eager inference is
    // the fallback for dirs that already have files
    val schema =
      if (root.has("schemaDdl"))
        org.apache.spark.sql.types.StructType.fromDDL(root.get("schemaDdl").asText())
      else if (root.has("schemaSource"))
        spark.read.parquet(root.get("schemaSource").asText()).schema
      else graft.util.Fs.feedSchema(spark, srcDir, None)
    val feed = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val cleaned = it.foldLeft(batch) { (df, n) =>
            applyStage(df, n.get("op").asText(), n, textCol, idCol)
          }
          cleaned.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        }
      }
      .start()
  }

  /** Resolve the config's input into a frame. inputFormat "wet" points
    * `input` at WARC/WET crawl shards (graft.sources.Warc) instead of
    * a parquet table — raw Common Crawl dumps feed the same curation
    * chain with one config line; "warc" exposes the full envelope for
    * metadata-level pipelines; "jsonl" REQUIRES a DDL schema (at
    * 100 TB an inference pass is a full extra scan, and a schema
    * drifting under sampling is a silent-meaning-change). */
  private def readInput(spark: SparkSession, root: JsonNode): DataFrame = {
    def req(f: String): String =
      if (root.has(f)) root.get(f).asText()
      else throw new IllegalArgumentException(s"config requires '$f'")
    val inputFormat =
      if (root.has("inputFormat")) root.get("inputFormat").asText() else "parquet"
    inputFormat match {
      case "parquet" => spark.read.parquet(req("input"))
      case "wet" => graft.sources.Warc.wet(spark, req("input"))
      case "warc" => graft.sources.Warc.read(spark, req("input"))
      case "jsonl" =>
        val schema = root.get("schema") match {
          case null => throw new IllegalArgumentException(
            "inputFormat 'jsonl' requires 'schema' (DDL string, e.g. " +
              "\"doc_id BIGINT, text STRING\"): schema inference is a " +
              "full extra scan at corpus scale")
          case s => org.apache.spark.sql.types.StructType.fromDDL(s.asText())
        }
        spark.read.schema(schema).json(req("input"))
      case other => throw new IllegalArgumentException(
        s"unknown inputFormat '$other' (expected parquet, jsonl, wet, or warc)")
    }
  }

  /** Assemble and run the configured pipeline; returns (rowsIn,
    * rowsOut). The composed plan is written once at the end —
    * partitioned by `shard` when a shard stage ran.
    */
  def run(spark: SparkSession, configJson: String): (Long, Long) = {
    val root = new ObjectMapper().readTree(configJson)
    def req(f: String): String =
      if (root.has(f)) root.get(f).asText()
      else throw new IllegalArgumentException(s"config requires '$f'")
    val textCol = if (root.has("textCol")) root.get("textCol").asText() else "text"
    // the report counts ride the write job as observed metrics — no
    // separate count() pass over the input (a second scan of the
    // corpus at 100 TB) or re-read of the output. Filters cannot be
    // pushed below a CollectMetrics node, so rows_in is the true
    // input cardinality; stage one of every vocabulary entry is an
    // id-keyed join/window, not a pushable scan predicate, so the
    // barrier costs the scan nothing.
    val obsIn = org.apache.spark.sql.Observation()
    val obsOut = org.apache.spark.sql.Observation()
    val input = readInput(spark, root).observe(obsIn, count(lit(1)).as("rows"))
    val result = assembleFrom(input, root)
      .observe(obsOut, count(lit(1)).as("rows"))
    val out = req("output")
    // outputFormat "jsonl": ship the cleaned corpus as gzip JSONL
    // shards (graft.sources.Jsonl) — the format downstream trainers
    // actually consume; long/int/string/boolean columns only (the
    // writer throws loudly on anything else). Default stays parquet.
    val outputFormat =
      if (root.has("outputFormat")) root.get("outputFormat").asText()
      else "parquet"
    outputFormat match {
      case "parquet" =>
        val writer = result.write.mode("overwrite")
        (if (result.columns.contains("shard")) writer.partitionBy("shard")
         else writer).parquet(out)
      case "jsonl" =>
        graft.util.Fs.delete(spark, out)
        graft.sources.Jsonl.write(result, out)
      case other => throw new IllegalArgumentException(
        s"unknown outputFormat '$other' (expected parquet or jsonl)")
    }
    // optional side-channel health reports over the CLEANED corpus —
    // the go/no-go artifacts (column profile, per-stratum drift) land
    // next to the data they describe, from the same run
    val reports = root.get("reports")
    if (reports != null) {
      val repDir =
        if (reports.has("output")) reports.get("output").asText()
        else s"$out.reports"
      val cleaned = outputFormat match {
        case "jsonl" =>
          graft.sources.Jsonl.read(spark, s"$out/*.jsonl.gz", result.schema)
        case _ => spark.read.parquet(out)
      }
      if (reports.path("profile").asBoolean(false))
        graft.ops.Profile.tableProfile(cleaned,
            cleaned.columns.filterNot(Set("shard", "pos")).toSeq)
          .write.mode("overwrite").parquet(s"$repDir/profile")
      if (reports.has("driftStratum"))
        graft.ops.Profile.tokenDrift(cleaned, textCol,
            reports.get("driftStratum").asText())
          .write.mode("overwrite").parquet(s"$repDir/drift")
      // one-scalar distribution health: slope drifting toward 0
      // between snapshots = template flooding survived the filters
      if (reports.path("zipf").asBoolean(false))
        TextAnalysis.zipfSlope(cleaned, textCol)
          .write.mode("overwrite").parquet(s"$repDir/zipf")
      // categorical-skew view: which values dominate each named
      // column ("freqCols": comma list, "freqK": top-k, default 10)
      if (reports.has("freqCols"))
        graft.ops.Profile.frequentValues(cleaned,
            reports.get("freqCols").asText().split(",").map(_.trim).toSeq,
            if (reports.has("freqK")) reports.get("freqK").asInt() else 10)
          .write.mode("overwrite").parquet(s"$repDir/freq")
    }
    // an empty input runs no task, so an observation may report no
    // row count at all: that reads as 0 rows, not as a missing key
    def rows(o: org.apache.spark.sql.Observation): Long =
      o.get.get("rows").fold(0L)(_.asInstanceOf[Long])
    (rows(obsIn), rows(obsOut))
  }

  /** CLI: `runMain graft.Pipeline -cfg /path/pipeline.json` (also
    * accepts `-c`, matching the Replicate CLI's flags).
    */
  def main(args: Array[String]): Unit = {
    // -rebalance <storeRoot>: run the shard rebalance executor
    // (Sampling.rebalanceExecute — plan, stage, commit, swap) against
    // a shard-per-directory corpus store, then exit. The maintenance
    // arm next to Replicate's -compact/-gc, but corpus-side.
    args.sliding(2).collectFirst { case Array("-rebalance", p) => p }
      .foreach { storeRoot =>
        val cpus0 = sys.env.getOrElse("SPARK_GRAFT_CPUS",
          Runtime.getRuntime.availableProcessors().toString)
        val s = SparkSession.builder()
          .master(s"local[$cpus0]")
          .config("spark.sql.shuffle.partitions", cpus0)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.extensions", "graft.functions.GraftExtensions")
          .config("spark.sql.legacy.parquet.nanosAsLong", "true")
          .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
          .getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        val (n, w) = graft.ops.Sampling.rebalanceExecute(s, storeRoot)
        println(s"""{"moved_docs":$n,"moved_weight":$w}""")
        s.stop()
        sys.exit(0)
      }
    val cfgPath = args.sliding(2).collectFirst {
      case Array("-cfg", p) => p
      case Array("-c", p) => p
    }.getOrElse {
      System.err.println(
        "usage: graft.Pipeline -cfg <pipeline.json> | -rebalance <storeRoot>")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(cfgPath)), java.nio.charset.StandardCharsets.UTF_8)
    // -reorder: cost-based filter reordering (see [[reorder]]) before
    // the run; the chosen order goes to stderr for the operator's log
    val effective = if (args.contains("-reorder")) {
      val r = reorder(spark, json)
      val ops = new ObjectMapper().readTree(r).get("stages")
      System.err.println("[pipeline] reordered stages: " +
        (0 until ops.size()).map(ops.get(_).get("op").asText()).mkString(" -> "))
      r
    } else json
    val (in, out) = run(spark, effective)
    println(s"""{"rows_in":$in,"rows_out":$out}""")
    spark.stop()
  }
}
