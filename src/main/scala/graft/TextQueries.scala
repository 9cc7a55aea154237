package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedupe, Sampling, SessionCaches, TextAnalysis}

/** Text-pipeline query catalog: dedup + text-analysis operators over the
  * `documents` table. Oracle SQL provided wherever DuckDB can express the
  * same semantics (md5, pure column arithmetic, windows); signature-based
  * ops (minhash/simhash/fingerprint/langid) are rows-only.
  */
object TextQueries {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Dedupe
      .exactDuplicates(docs(spark, sfDir), "doc_id", col("text"))
      .select(col("doc_id"), col("fp"), col("canonical_id"), col("is_dup"))

  /** Incremental dedup: odd doc_ids are "tonight's batch", even doc_ids
    * are the already-kept corpus whose fingerprint index the batch is
    * classified against (known / intra_dup / new). Fingerprint = md5 of
    * the 40-char prefix (the dedup_prefix trick): full-text md5 has zero
    * collisions in the synthetic corpus, which would leave the known and
    * intra_dup branches oracle-unchecked — the prefix classes exercise
    * all three statuses at sf0.001 and up.
    */
  private def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val fp = md5(substring(col("text"), 1, 40))
    graft.operators.IncrementalDedup
      .classify(
        d.filter(col("doc_id") % 2 === 1), "doc_id", fp,
        d.filter(col("doc_id") % 2 === 0).select(fp.as("fp")), "fp")
      .select(col("id").as("doc_id"), col("fp"), col("status"))
  }

  /** Near-exact: duplicate classes on a 40-char prefix — exercises the
    * same shape with actual collisions in synthetic data.
    */
  private def dedupPrefix(spark: SparkSession, sfDir: String): DataFrame =
    Dedupe
      .exactDuplicates(docs(spark, sfDir), "doc_id", substring(col("text"), 1, 40))
      .select(col("doc_id"), col("fp"), col("canonical_id"), col("is_dup"))

  private def textTokens(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        TextAnalysis.tokenCountCol(col("text")).cast("long").as("n_tokens"))

  private def textTokensBpe(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_tokens_bpe"))

  /** BPE tokenizer training over the corpus ([[graft.operators.BpeTrain]]):
    * the first 12 learned merge rules with their pair frequencies. The
    * oracle replays training end-to-end (vocab seed + 12 recursive
    * working-table iterations).
    */
  private val bpeTrainK = 12
  private def bpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.BpeTrain.learn(docs(spark, sfDir), "text", bpeTrainK)

  /** Train-then-apply: per-document token counts under the learned
    * tokenizer (merge rules broadcast into one narrow map pass — the
    * corpus never shuffles for the apply).
    */
  private def bpeApply(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.BpeTrain.tokenize(
      docs(spark, sfDir), "text", "doc_id", bpeTrainK)

  /** Tokenizer-aware packing: the doc_pack prefix-sum offsets computed
    * over REAL learned-BPE token counts instead of whitespace counts —
    * what a training pipeline actually packs by, since sequence budgets
    * are tokenizer tokens. Train (driver-side merges) → one narrow
    * broadcast apply → the same two-pass partition-offset prefix sum;
    * the corpus shuffles once, on the range partitioning the pack
    * requires. Oracle: the bpe_apply replay chain (shared
    * [[graft.operators.BpeTrain.tokenizeCtesSql]] — one definition,
    * can't drift) feeding the doc_pack window sum.
    */
  private def docPackBpe(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Packing
      .tokenStreamPack(
        graft.operators.BpeTrain.tokenize(
          docs(spark, sfDir), "text", "doc_id", bpeTrainK),
        "doc_id", col("n_tokens_learned"), windowSize = 512L)
      .select(col("id").as("doc_id"), col("n_tokens"), col("start_offset"),
        col("pack_id"))

  /** Budgeted quality-first mixture allocation — the mixture-DESIGN step
    * upstream of doc_mixture's fixed ratios: given a global token budget
    * (half the corpus here), sources are ranked by quality (fraction of
    * docs passing the gopher word-count gate; exact-integer-derived
    * double, ties to source name) and the budget fills greedily best
    * source first — each source takes min(its tokens, remaining budget).
    * take_frac is then the per-source sampling rate a pipeline feeds to
    * hash-threshold sampling. Scale shape: ONE map-side-combined
    * per-source aggregate over the corpus; everything after operates on
    * the |sources|-row relation (metadata-sized — the global windows
    * are over sources, never rows). All ranking inputs and allocations
    * are exact integers; fractions are single correctly-rounded
    * divisions — bit-stable across engines.
    */
  private def docBudgetMix(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSource = docs(spark, sfDir)
      .select(col("source"),
        TextAnalysis.tokenCountCol(col("text")).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(when(col("nt").between(20, 80), 1L).otherwise(0L)).as("pass_docs"))
    val w = Window.orderBy(col("pass_frac").desc, col("source").asc)
    perSource
      .withColumn("pass_frac", col("pass_docs").cast("double") / col("n_docs"))
      .withColumn("alloc_rank", row_number().over(w).cast("long"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(perSource.agg(
        floor(sum(col("n_tokens")) / 2).cast("long").as("budget"))))
      .withColumn("take_tokens",
        least(col("n_tokens"), greatest(col("budget") - col("cum_before"), lit(0L))))
      .withColumn("take_frac",
        col("take_tokens").cast("double") / col("n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("pass_docs"),
        col("pass_frac"), col("alloc_rank"), col("cum_before"),
        col("take_tokens"), col("take_frac"))
  }

  /** Temperature-scaled mixture weights (α-sampling, the multilingual
    * rebalancing policy: weight ∝ n^α with α = 1/2, so small sources are
    * up-sampled relative to proportional) per LANGUAGE — the corpus's
    * skewed grouping (en dominates) — next to the proportional baseline,
    * plus the integer quota each language gets from a half-corpus
    * budget. score = floor(sqrt(n)) is cross-engine exact
    * (IEEE correctly-rounded sqrt of an exact integer, identical in
    * both engines); every weight/quota is an integer basis-point or
    * floor division. ONE map-side-combined per-language aggregate over
    * the corpus; the totals join broadcasts a |langs|-row relation.
    */
  private def docTemperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val perLang = docs(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("score",
        floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val tot = perLang.agg(sum(col("n_docs")).as("docs_sum"),
      sum(col("score")).as("score_sum"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        call_function("div", col("n_docs") * 10000L, col("docs_sum"))
          .as("prop_bp"),
        col("score"),
        call_function("div", col("score") * 10000L, col("score_sum"))
          .as("temp_bp"),
        call_function("div",
          call_function("div", col("docs_sum"), lit(2L)) * col("score"),
          col("score_sum")).as("quota_docs"))
  }

  /** Deterministic epoch-order shuffle of the corpus
    * ([[graft.operators.Sampling.globalShuffleOrder]]): explicit
    * position 0..n-1 in a key-pure pseudo-random permutation, assigned
    * by distributed prefix-sum — no global window.
    */
  private def docShuffle(spark: SparkSession, sfDir: String): DataFrame =
    Sampling.globalShuffleOrder(docs(spark, sfDir), col("doc_id"), "epoch0")
      .select(col("id").as("doc_id"), col("sort_key"), col("position"))

  /** Round-robin curriculum interleave across sources
    * ([[graft.operators.Sampling.interleaveBySource]]): reading in slot
    * order takes one doc per source in turn.
    */
  private def docInterleave(spark: SparkSession, sfDir: String): DataFrame =
    Sampling.interleaveBySource(
      docs(spark, sfDir), col("doc_id"), col("source"), "epoch0")
      .select(col("id").as("doc_id"), col("source"),
        col("rank_in_source"), col("source_idx"), col("slot"))

  /** Batch-shape planning ([[graft.operators.Packing.lengthBuckets]]):
    * power-of-two context-length buckets with per-bucket padding waste.
    */
  private def docLengthBuckets(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Packing.lengthBuckets(
      docs(spark, sfDir), TextAnalysis.tokenCountCol(col("text")))

  private def textQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val text = col("text")
    val nChars = length(text)
    val nTokens = TextAnalysis.tokenCountCol(text)
    docs(spark, sfDir)
      .select(
        col("doc_id"),
        ((nChars - (nTokens - lit(1))).cast("double") / nTokens.cast("double"))
          .as("avg_token_len"),
        ((length(text) - length(regexp_replace(text, "[.,;:!?]", ""))).cast("double") /
          greatest(nChars, lit(1)).cast("double")).as("punct_ratio"))
  }

  /** Bounded-memory token heavy hitters (Misra-Gries sketch): the
    * vocabulary/stopword pass without shuffling the raw token stream. The
    * documents vocabulary (31 distinct words) sits far under the sketch
    * capacity, so counts are EXACT (decs = 0) and the oracle is the plain
    * SQL top-20 word count.
    */
  /** Streaming twin of text_heavy_hitters
    * ([[graft.streaming.StreamTopTerms]]): the Misra-Gries sketch merged
    * through the complete-mode state store micro-batch by micro-batch,
    * then the same unpack/rank finish — must land on the batch relation
    * exactly (shared oracle; exact below capacity).
    */
  private def streamHeavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.StreamTopTerms.runTopTermsOnce(
      spark, s"$sfDir/documents.parquet",
      s"hh_${Queries.dirTag(sfDir)}")

  private def textHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HeavyHitters
    val words = docs(spark, sfDir)
      .select(explode(filter(split(lower(col("text")), " "), w => w =!= ""))
        .as("word"))
    words
      .agg(HeavyHitters.heavy_hitters(col("word"), capacity = 1024).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e._1").as("word"), col("e._2").as("est_count"),
        col("e._3").as("max_undercount"))
      .orderBy(col("est_count").desc, col("word").asc)
      .limit(20)
  }

  /** Per-language doc-length distribution via the mergeable quantile
    * sketch ([[graft.functions.QuantileSketch]]) — the bounded-memory
    * profiling pass a 100 TB corpus needs where sorting a column is not
    * an option. Catalog capacity (4096) exceeds every group at the
    * correctness SFs, so the sketch sits in its exact window and the
    * oracle is DuckDB's quantile_disc (identical max(1, ceil(q·n)) rank
    * convention).
    */
  private def docLenQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.QuantileSketch
    docs(spark, sfDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        QuantileSketch.quantiles(col("n_chars").cast("double"),
          Seq(0.25, 0.5, 0.75, 0.9, 0.99)).as("qs"))
      .select(col("lang"), col("n_docs"),
        col("qs")(0).cast("long").as("p25"),
        col("qs")(1).cast("long").as("p50"),
        col("qs")(2).cast("long").as("p75"),
        col("qs")(3).cast("long").as("p90"),
        col("qs")(4).cast("long").as("p99"))
  }

  private def textStats(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(TextAnalysis.tokenCountCol(col("text")).cast("long")).as("sum_tokens"))

  private def langId(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))

  /** Language-ID quality evaluation — the confusion matrix of the
    * marker-based classifier against the corpus's lang labels, with
    * per-label row fractions in integer basis points (the diagonal is
    * per-language recall). The same eval discipline as dedup_lsh_eval:
    * heuristic operators ship with the query that MEASURES them. One
    * map-side-combined (lang, pred) rollup; the per-label totals join
    * broadcasts a |langs|-row relation.
    */
  private def langIdEval(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = langId(spark, sfDir)
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("lang")).agg(sum(col("n")).as("lang_total"))
    cells.join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("lang_pred"), col("n"), col("lang_total"),
        call_function("div", col("n") * 10000L, col("lang_total"))
          .as("cell_bp"))
  }

  private def docFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .select(col("doc_id"), size(col("fp")).as("n_fingerprints"),
        element_at(col("fp"), 1).as("min_fingerprint"))

  /** Substring-duplication candidates: doc pairs sharing ≥ 5 winnowing
    * fingerprints after the hot-fingerprint cap (full recall on RARE
    * shared substrings ≥ 23 chars — the suffix-array-dedup stand-in).
    * The cap is 5% of the corpus: template fingerprints shared by large
    * corpus fractions are boilerplate, not duplication signal, and their
    * df² join blowup is exactly the cost the cap bounds (26 s → sub-s at
    * sf0.1). The capped relation persists for the oracle; the fingerprint
    * GENERATOR stays verified in pure SQL by doc_fingerprint's winnowing
    * oracle.
    */
  private def substringDup(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    // 5% of the corpus, floored at 2 (a cap of 1 would drop every
    // SHAREABLE fingerprint on tiny corpora and silently return nothing)
    // and ceilinged at an absolute 100: past ~100 docs a fingerprint is
    // boilerplate whatever the corpus size, and the cap bounds the
    // join's Σ df² independent of scale. The corpus size comes from the
    // parquet FOOTERS (driver-side metadata read, zero Spark jobs) — a
    // df.count() would run a scan job per invocation since aggregate
    // pushdown is off by default.
    val nDocs = Queries.parquetRowCount(spark, s"$sfDir/documents.parquet")
    TextAnalysis.sharedFingerprintPairs(d, "doc_id", "text",
      minShared = 5L,
      maxFpFreq = math.min(100L, math.max(2L, nDocs / 20L)),
      fpSink = df => Queries.oracleSide(spark, sfDir, "fp_rel", df))
  }

  private def qualityFull(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis
      .qualityScore(docs(spark, sfDir))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("avg_token_len"), col("punct_ratio"), col("stopword_ratio"))

  /** ONE definition of the demo classifier — quality_classifier and
    * doc_select_topk must rank by the same model, and both oracles bake
    * in this exact fold order.
    */
  private def demoQualityLogit: org.apache.spark.sql.Column =
    TextAnalysis.linearScore(
      Seq(
        (col("n_tokens").cast("double") - lit(50.0), 0.02),
        (col("stopword_ratio"), 10.0),
        (col("punct_ratio"), -15.0)),
      bias = -1.0)

  /** Linear quality classifier over the engine's quality features — the
    * model-based filter stage (fixed demo weights; monotone logit output,
    * keep = logit > 0). Feature order is the SQL oracle's fold order, so
    * the doubles are bit-identical.
    */
  private def qualityClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    val q = TextAnalysis.qualityScore(docs(spark, sfDir))
    val logit = demoQualityLogit
    q.select(col("doc_id"), logit.as("logit"), (logit > 0).as("keep"))
  }

  /** Curriculum selection: the top-5 highest-quality documents per source
    * by the linear classifier's logit (deterministic doc_id tie-break) —
    * the quality-based selection stage between scoring and mixing.
    *
    * Plan shape: one narrow scoring pass + [[graft.functions.TopKByScore]]
    * (bounded per-partition top-5 buffers, partial + final aggregation) —
    * NOT a per-source window, whose full sort caps parallelism at the
    * number of sources and funnels each source's whole score set through
    * one task. Shuffled volume is ≤ 5 rows per (partition, source); the
    * result is row-identical to `row_number().over(partitionBy(source)
    * .orderBy(logit DESC, doc_id ASC)) <= 5` over the SCORED rows (the
    * DuckDB oracle keeps the window form). Unscorable docs (null text ⇒
    * null logit) are excluded on BOTH sides — selection semantics, and
    * the typed aggregate's input is non-nullable by contract.
    */
  private def docSelectTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TopK
    TextAnalysis.qualityScore(docs(spark, sfDir))
      .withColumn("logit", demoQualityLogit)
      .filter(col("logit").isNotNull)
      .groupBy(col("source"))
      .agg(TopK.top_k_by_score(col("logit"), col("doc_id"), 5).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("doc_id"), col("col._1").as("logit"))
  }

  /** Export shard planning: deterministic 16-way sharding on the first
    * md5 hex digit of the doc key, reporting per-shard row/byte totals —
    * the balanced-output check before writing training shards. Shard
    * membership is a pure function of the key (the Sampling-family
    * contract), so shards are stable across runs and engines.
    */
  private def docShards(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(
        // first hex digit of the Sampling-family membership machinery —
        // same md5 prefix, same loud null-key failure
        substring(graft.operators.Sampling.md5Prefix(col("doc_id"), "docShards"),
          1, 1).as("shard"),
        col("n_chars"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  /** Char-bigram LM quality scoring, self-trained on the corpus
    * (TextAnalysis.bigramLmScore) — integer-scaled probabilities make
    * train + score one pure SQL oracle.
    */
  private def lmScore(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.bigramLmScore(docs(spark, sfDir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")

  private def minhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    Dedupe.minhashPairs(docs(spark, sfDir), "doc_id", "text", threshold = 0.3,
      sigSink = df => Queries.oracleSide(spark, sfDir, "minhash_sigs", df))

  // maxBucketSize = MaxValue: the oracle is brute-force all-pairs over
  // the persisted sigs, so the over-cap star-pair degradation must never
  // engage for this registration (same contract as mm_phash_neardup);
  // production callers keep the default skew cap
  private def simhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    Dedupe.simhashPairs(docs(spark, sfDir), "doc_id", "text", maxDistance = 3,
      maxBucketSize = Int.MaxValue,
      sigSink = df => Queries.oracleSide(spark, sfDir, "simhash_sigs", df))

  /** Incremental MinHash near-dup: even doc_ids play the already-kept
    * corpus (the signature index), odd doc_ids the incoming batch — every
    * batch doc classifies as `neardup` (best index match + exact Jaccard)
    * or `new`. The oracle re-derives candidates from the persisted batch
    * and index signatures by slice equality (band-key equality == slice
    * equality modulo xxh64 bucket-key collisions, the dedup_minhash
    * contract) and replays verify + best-match selection in SQL.
    */
  private def minhashIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    Dedupe.minhashClassify(
      d.filter(col("doc_id") % 2 === 1),
      d.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", threshold = 0.3,
      batchSigSink = df => Queries.oracleSide(spark, sfDir, "iminh_batch_sigs", df),
      indexSigSink = df => Queries.oracleSide(spark, sfDir, "iminh_index_sigs", df))
  }

  /** The exact ngram-Jaccard pair relation is consumed by FOUR catalog
    * queries (dedup_ngram, dedup_clusters, dedup_keep_best,
    * pipeline_curate) — compute it once per (session, sf dir) and share
    * the cached result, the same sharing discipline as Queries.sfChunks.
    * ngramJaccardPairs caches and materializes internally, so reuse is a
    * cheap cached-scan.
    */
  private def sharedNgramPairs(spark: SparkSession, sfDir: String): DataFrame =
    SessionCaches.shared(spark, "ngram_pairs", sfDir) {
      Dedupe.ngramJaccardPairs(docs(spark, sfDir), "doc_id", "text", k = 3,
        threshold = 0.3)
    }

  private def ngramPairs(spark: SparkSession, sfDir: String): DataFrame =
    sharedNgramPairs(spark, sfDir)

  /** Named builders for the session-shared relations, exposed so Bench can
    * pay and TIME each build once, up front — per-query numbers then report
    * steady-state cost instead of silently charging whichever consumer runs
    * first (dedup_ngram/dedup_clusters/dedup_keep_best/pipeline_curate
    * share the ngram pairs; doc_cdc/source_similarity share the doc
    * chunk pass).
    */
  private[graft] def sharedBuilds: Seq[(String, (SparkSession, String) => Unit)] =
    Seq(
      "ngram_pairs" -> ((s, d) => { sharedNgramPairs(s, d).count(); () }),
      "dedup_clusters_rel" -> ((s, d) => { sharedClusters(s, d).count(); () }),
      "doc_cdc_chunks" -> ((s, d) => { sharedDocChunks(s, d).count(); () }),
      "phash_pairs" -> ((s, d) => { Queries.sharedPhashPairs(s, d).count(); () }),
      "video_pairs" -> ((s, d) => { Queries.sharedVideoPairs(s, d).count(); () }),
      "span_provenance" -> ((s, d) => { sharedSpanProvenance(s, d).count(); () }))

  /** Which catalog queries consume each shared relation — Bench uses this
    * to skip (and not charge for) builds nothing in the selected subset
    * would read.
    */
  private[graft] val sharedBuildConsumers: Map[String, Set[String]] = Map(
    "ngram_pairs" -> Set("dedup_ngram", "dedup_clusters", "dedup_keep_best",
      "dedup_neardup_matrix", "pipeline_curate"),
    "dedup_clusters_rel" -> Set("dedup_clusters", "dedup_keep_best",
      "dedup_neardup_matrix"),
    // NOT stream_cdc/stream_cdc_approx: they reference the relation only
    // as oracleSide's by-name side-table argument, which timed runs
    // (side tables off) never evaluate — the stream chunks for itself
    "doc_cdc_chunks" -> Set("doc_cdc", "source_similarity"),
    "phash_pairs" -> Set("mm_phash_neardup", "mm_phash_clusters"),
    // NOT stream_video_fp: it fingerprints in-stream through the band
    // state store (the stream_cdc precedent) — never reads the pairs
    "video_pairs" -> Set("mm_video_fp", "mm_video_dedup"),
    "span_provenance" -> Set("dedup_spans_provenance", "dedup_source_matrix"))

  /** The cluster relation (connected components over the shared ngram
    * pairs) is itself consumed by THREE catalog queries (dedup_clusters,
    * dedup_keep_best via [[dedupKeepBest0]], dedup_neardup_matrix) —
    * each re-ran the edge distinct + count + union-find per query.
    * Round-21 (guide §2.4 / the r20 verdict's shared-build ask): build
    * once per (session, sf dir) as a declared, Bench-timed shared
    * relation — cost stays attributed in `shared_builds`, never hidden.
    */
  private def sharedClusters(spark: SparkSession, sfDir: String): DataFrame =
    SessionCaches.shared(spark, "dedup_clusters_rel", sfDir) {
      Dedupe.duplicateClusters(sharedNgramPairs(spark, sfDir), maxIter = 40)
        .cache()
    }

  /** Duplicate clustering (connected components, min-id labels) over the
    * exact ngram pair relation — deterministic input, so the DuckDB oracle
    * re-derives the components with a recursive transitive-closure CTE.
    */
  private def dedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    sharedClusters(spark, sfDir)

  /** Retention decision over the near-dup clusters
    * ([[Dedupe.keepBestPerCluster]]): keep the highest-token-count member
    * of each cluster (min doc_id on ties), singletons keep themselves.
    * The score is the integer whitespace-token count so the argmax is
    * engine-exact; shares the cached ngram-pair relation with
    * dedup_ngram / dedup_clusters / pipeline_curate.
    */
  private def dedupKeepBest(spark: SparkSession, sfDir: String): DataFrame =
    dedupKeepBest0(spark, sfDir, includeKeptId = false)

  private def dedupKeepBest0(
      spark: SparkSession, sfDir: String, includeKeptId: Boolean): DataFrame = {
    val scored = docs(spark, sfDir).select(col("doc_id"),
      TextAnalysis.tokenCountCol(col("text")).cast("long").as("score"))
    // the dedup_clusters relation itself — one clustering config to drift
    Dedupe.keepBestPerCluster(scored, dedupClusters(spark, sfDir),
      includeKeptId = includeKeptId)
  }

  /** Cross-source NEAR-duplication matrix — the keep-best retention
    * decision rolled up by (dropped doc's source, keeper's source): the
    * directional "whose documents get dropped against whose keepers"
    * mass in whole-document tokens. Completes the source-pair triptych:
    * dedup_source_matrix is exact-substring mass (span-level, the cut),
    * source_similarity is symmetric sketch overlap (gram sets), and this
    * is the document-level near-dup DROP decision a mixing policy acts
    * on. Scale shape: the redundant and keeper relations are
    * duplicate-count-bounded (clustered docs only), the two doc_id
    * source joins are input-sized hash joins with the duplicate-bounded
    * side as build, and the rollup is |sources|²-bounded. Shares the
    * ngram-pair relation (and the one clustering config) with
    * dedup_clusters / dedup_keep_best.
    */
  private def dedupNeardupMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    // keep-best WITH the keeper id exposed (round-20, guide §2.4): the
    // previous shape evaluated the whole keep-best relation TWICE (a
    // dropped branch and a keepers branch — each a full clustering +
    // score + argmax subtree) and joined them back on cluster_id, when
    // the keeper's id is a byproduct of the keep decision itself. One
    // kept_id column removes the second evaluation and the self-join;
    // every dropped row already knows who kept it. Row-for-row
    // equivalent: each dropped row's cluster has exactly one keeper
    // (kept_id), which is what the keepers join attached.
    val kb = dedupKeepBest0(spark, sfDir, includeKeptId = true)
    val src = docs(spark, sfDir).select(col("doc_id"), col("source"))
    kb.filter(!col("keep"))
      .select(col("doc_id"), col("score"), col("kept_id").as("kept_doc"))
      .join(src, Seq("doc_id"))
      .join(src.select(col("doc_id").as("kept_doc"),
        col("source").as("kept_source")), Seq("kept_doc"))
      .groupBy(col("source"), col("kept_source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score")).as("drop_tokens"))
  }

  /** LSH-recall evaluation ([[Dedupe.minhashRecallEval]]): brute-force
    * exact ground truth over the doc_id % 3 = 0 sample vs the MinHash
    * banding, one metrics row (recall_bp; false_pos pinned at 0 by the
    * exact-verify invariant). The oracle independently re-derives BOTH
    * relations from the persisted signature table — the all-pairs truth
    * and the band-replay candidates — and recomputes every count.
    */
  private def dedupLshEval(spark: SparkSession, sfDir: String): DataFrame =
    Dedupe.minhashRecallEval(
      docs(spark, sfDir).filter(col("doc_id") % 3 === 0),
      "doc_id", "text", threshold = 0.3,
      sigSink = df => Queries.oracleSide(spark, sfDir, "lsheval_sigs", df))

  /** Containment near-dup pairs ([[Dedupe.containmentPairs]]) — the
    * asymmetric dedup signal Jaccard structurally misses: an excerpt
    * inside a fuller document scores J ≈ |A|/|B| (never reaching a
    * symmetric threshold) but containment C(A,B) = |∩|/|A| ≈ 1. The
    * corpus is documents plus a deterministic excerpt fixture — every
    * 5th document re-enters as its first-half-words prefix under
    * doc_id + 1,000,000 (the same synthesized-derivative discipline as
    * mergeChangelog) — so the asymmetric path is actually exercised:
    * at sf0.01 the excerpts produce ~114 `b_in_a` rows the Jaccard
    * catalog queries cannot see. Runs the PPJoin-style asymmetric
    * prefix filter (the 100 TB path: hot grams never enter a prefix);
    * DedupeSpec pins direct-join equivalence. All thresholds are
    * integer basis points, so the DuckDB oracle reproduces the row set
    * exactly from the gram strings themselves.
    */
  private def dedupContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val wordsExpr = "filter(split(lower(text), ' '), x -> x != '')"
    val excerpts = d.filter(col("doc_id") % 5 === 0)
      .select(
        when(col("doc_id") < 1000000L, col("doc_id") + 1000000L)
          .otherwise(raise_error(concat(
            lit("dedupContainment: doc_id "), col("doc_id"),
            lit(" >= 1000000 collides with synthesized excerpt ids")))
            .cast("long")).as("doc_id"),
        array_join(
          expr(s"slice($wordsExpr, 1, (size($wordsExpr) + 1) div 2)"), " ")
          .as("text"))
    val corpus = d.select(col("doc_id"), col("text")).unionByName(excerpts)
    Dedupe.containmentPairs(corpus, "doc_id", "text", k = 3,
      thresholdBp = 9000L)
  }

  /** Exact-substring duplicate spans ([[Dedupe.duplicateSpans]], the
    * Lee et al. ACL'22 ExactSubstr mode relationally): per doc, maximal
    * token spans whose every 20-token window recurs elsewhere in the
    * corpus — the spans a curation pipeline cuts. Fully relational, so
    * the DuckDB oracle rebuilds windows from the words themselves and
    * merges runs with a gaps-and-islands window query.
    */
  private def dedupSpans(spark: SparkSession, sfDir: String): DataFrame =
    Dedupe.duplicateSpans(docs(spark, sfDir), "doc_id", "text",
      windowTokens = 20)

  /** The span CUT ([[Dedupe.cutDuplicateSpans]]): Lee et al. keep-one
    * semantics — every duplicated 20-token window keeps its globally
    * earliest occurrence, later occurrences' token ranges are removed.
    * Output is the cleaned corpus (token-normalized text), one row per
    * doc, string-compared against the oracle's SQL reconstruction.
    * Registered in `hash128` mode — the production configuration, since
    * a 64-bit window collision here would DELETE text (identity is then
    * 2⁻¹²⁸-per-pair; the oracle is unaffected, window equivalence classes
    * are identical at any testable scale).
    */
  private def dedupSpansCut(spark: SparkSession, sfDir: String): DataFrame =
    Dedupe.cutDuplicateSpans(docs(spark, sfDir), "doc_id", "text",
      windowTokens = 20, hash128 = true)

  /** The incremental queries' base/batch split: ids below it are the
    * base, the rest tonight's batch. Null-safe: an empty corpus splits
    * into empty base + empty batch (the operators handle empties)
    * instead of NPE-ing on the null max.
    */
  private def midDocId(d: DataFrame): Long =
    (Option(d.agg(max(col("doc_id").cast("long"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(-1L) + 1) / 2

  /** Incremental span cut ([[Dedupe.cutSpansIncremental]]) — the
    * production refresh: the upper half of doc_ids is "tonight's batch",
    * cleaned against the lower half's persisted [[Dedupe.windowIndex]]
    * plus itself, never re-hashing the base. The oracle independently
    * verifies the incremental path's equivalence claim by running the
    * FULL keep-earliest cut in SQL and filtering to batch ids.
    */
  private def dedupSpansIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val t = midDocId(d)
    val idx = Dedupe.windowIndex(d.filter(col("doc_id") < t), "text",
      windowTokens = 20, hash128 = true)
    // base ids are all < t, so t - 1 bounds them: the refresh-contract
    // guard runs on the catalog path too (r14)
    Dedupe.cutSpansIncremental(idx, d.filter(col("doc_id") >= t),
      "doc_id", "text", windowTokens = 20, hash128 = true,
      baseMaxDocId = Some(t - 1))
  }

  /** Opt-in SCOPE for [[assertUnsaturated]] — entered by the
    * verification harness ([[graft.Verify]]) via [[withKmvOracleGuard]],
    * the only context where the exact-COUNT(DISTINCT) oracle applies.
    * Bench and ScaleRun never enter it: the 100× tier deliberately
    * saturates the sketch (that regime is the whole point of the approx
    * tier at corpus scale). A plain ThreadLocal bracket, not a mutable
    * global (and not a DynamicVariable, whose InheritableThreadLocal
    * would leak the scope into threads SPAWNED inside the bracket): the
    * scope is strictly per-thread and restored on exit, so a harness
    * bracketing its runs can never leak guard state into concurrently
    * running suites or a co-resident harness in the same JVM — the
    * hazard the retired `@volatile var` carried.
    */
  private val kmvGuardScope = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Run `body` with the KMV saturation guard enabled on this thread
    * (see [[kmvGuardScope]]); restores the previous scope on exit, even
    * an exceptional one.
    */
  private[graft] def withKmvOracleGuard[T](body: => T): T = {
    val prev = kmvGuardScope.get
    kmvGuardScope.set(true)
    try body finally kmvGuardScope.set(prev)
  }

  /** Verification-harness guard for the KMV triage wrappers: their
    * oracles compute exact COUNT(DISTINCT), which the sketch only equals
    * BELOW its k — if a verification SF ever grows past k the compare
    * would surface as an unexplained hash mismatch. Make saturation an
    * explicit error instead: assert every sketch estimate in the (tiny,
    * already-materialized) result is below k. Catalog-only — the
    * underlying operators stay saturation-tolerant, because saturated IS
    * their intended regime at corpus scale (the 100× tier exercises it).
    * `private[graft]` for KmvGuardSpec, which pins the saturation
    * margin; `enabled` defaults to the thread's guard scope and exists so
    * the spec can exercise the guard per-call without entering the scope.
    */
  private[graft] def assertUnsaturated(
      df: DataFrame,
      distinctCol: String,
      k: Int,
      query: String,
      enabled: Boolean = kmvGuardScope.get): DataFrame = {
    if (!enabled) return df
    // the 5·rsd margin below is only meaningful for large k: at k ≤ ~27
    // the bound goes non-positive (every estimate would "saturate") and
    // at k = 1 it divides by zero. Every catalog tier uses k ≥ 2¹⁴
    // (KmvSketch.TriageK / SourceTriageK); refuse tiny k loudly instead
    // of guarding nonsensically.
    require(k >= 1024,
      s"$query: assertUnsaturated needs k >= 1024 for a meaningful " +
        s"5·rsd saturation margin, got k=$k")
    val maxEst = df.agg(coalesce(max(col(distinctCol)), lit(0L)))
      .head().getLong(0)
    // Guard at a margin BELOW k, not at k itself: a corpus whose distinct
    // count sits just past k produces a SATURATED estimate of k·(1 ± rsd)
    // that can land back under k and evade an `>= k` test — exactly the
    // unexplained-mismatch case this guard exists to convert into a loud
    // error. 5·rsd·k of margin (the KmvSketchSpec-pinned worst case,
    // rsd = 1/√(k−1)) closes that blind window; both verification SFs sit
    // far below it (sf0.1: 169,815 distinct windows vs a 259,584 bound at
    // k=2¹⁸; max per-source 9,739 vs 15,744 at k=2¹⁴).
    val bound = (k - 5.0 * k / math.sqrt(k - 1.0)).toLong
    if (maxEst >= bound) throw new IllegalStateException(
      s"$query: KMV estimate $maxEst >= $bound (k=$k minus a 5·rsd " +
        "saturation margin) — the verification SF is at or past the " +
        "sketch's exact regime, so the exact-COUNT(DISTINCT) oracle no " +
        "longer applies; raise k for verification or shrink the SF")
    df
  }

  /** Approx tier of the span family ([[Dedupe.approxDuplicateSpans]]):
    * the cheap first-pass "how much substring duplication is there" a
    * 100 TB curation run wants BEFORE committing to the full cut. k = 2¹⁸
    * (2 MiB per partial) is far above BOTH verification SFs' distinct
    * windows (17 k at sf0.01, 170 k at sf0.1), so the sketch is provably
    * exact there and the DuckDB COUNT(DISTINCT) oracle holds; at
    * sketch-saturating corpus scale it estimates with rsd = 1/√(k−1) ≈
    * 0.2 %, which is the point of the tier.
    */
  private def dedupSpansApprox(spark: SparkSession, sfDir: String): DataFrame =
    assertUnsaturated(Dedupe.approxDuplicateSpans(docs(spark, sfDir), "text"),
      "kmv_distinct_windows", graft.functions.KmvSketch.TriageK,
      "dedup_spans_approx")

  /** Per-source slice of [[dedupSpansApprox]]: WITHIN-source substring
    * duplication, sketched — the triage view that tells a curation run
    * whether the boilerplate lives inside individual sources (cut per
    * source, cheap) or across them (run the full corpus cut / consult
    * [[dedupSourceMatrix]], which measures exactly the cross-source
    * structure this query cannot see). One kernel pass, one group-by-
    * source aggregate: groups are |sources|-bounded, partial sketches
    * are mergeable k-minima, so the only exchange is
    * |partitions| × |sources| sketch buffers (k = 2¹⁴ → 128 KiB each) —
    * corpus-size-independent. Exact below k per source (both
    * verification SFs: ≤ 9.7 k distinct windows per source), rsd ≈
    * 0.8 % saturated.
    */
  private def dedupSpansApproxSource(spark: SparkSession, sfDir: String): DataFrame =
    assertUnsaturated(
      Dedupe.approxDuplicateSpans(docs(spark, sfDir), "text",
        k = graft.functions.KmvSketch.SourceTriageK, groupCol = Some("source")),
      "kmv_distinct_windows", graft.functions.KmvSketch.SourceTriageK,
      "dedup_spans_approx_source")

  /** Span-cut PROVENANCE ([[Dedupe.spanProvenance]]) — the audit surface
    * for the cut: one row per redundant maximal span (exactly the token
    * ranges dedup_spans_cut removes) with where its kept copy lives (the
    * globally earliest occurrence of the span's first window). The
    * oracle re-derives firsts, redundancy, gaps-and-islands runs, and
    * the arg_min keeper from the words themselves.
    *
    * Registered in hash128 mode — the SAME identity width as the
    * dedup_spans_cut it audits (a 64-bit audit of a 128-bit cut could
    * report spans the cut never removed at the collision scale) — and
    * session-shared with dedup_source_matrix (two consumers, one
    * corpus-scale window-hash pass; the phash_pairs discipline).
    */
  private def sharedSpanProvenance(spark: SparkSession, sfDir: String): DataFrame =
    SessionCaches.shared(spark, "span_provenance", sfDir) {
      Dedupe.spanProvenance(docs(spark, sfDir), "doc_id", "text",
        windowTokens = 20, hash128 = true)
    }

  private def dedupSpansProvenance(spark: SparkSession, sfDir: String): DataFrame =
    sharedSpanProvenance(spark, sfDir)

  /** Cross-source EXACT duplication matrix — [[dedupSpansProvenance]]
    * rolled up by (redundant doc's source, keeper's source): the
    * directional "who copies whom" mass in cut tokens, the measurement
    * that decides which sources to dedupe against each other before
    * mixing. Complementary to source_similarity (KMV set overlap): this
    * is exact-substring MASS with direction (the earlier source keeps).
    * The provenance relation is span-count-sized, so both source joins
    * broadcast and the rollup is |sources|²-bounded.
    */
  private def dedupSourceMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val prov = sharedSpanProvenance(spark, sfDir)
    val src = d.select(col("doc_id"), col("source"))
    prov
      .join(src, Seq("doc_id"))
      .join(src.select(col("doc_id").as("kept_doc"),
        col("source").as("kept_source")), Seq("kept_doc"))
      .groupBy(col("source"), col("kept_source"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).as("dup_tokens"))
  }

  /** Multi-line "page" fixture for the line-dedup family: the synthetic
    * corpus carries no `\n`, so each document is deterministically
    * reflowed into non-overlapping 12-word lines (lowercased words, the
    * catalog's word-split idiom) — the natural cross-doc repetition of
    * word runs then surfaces as duplicated LINES (97 classes at sf0.001),
    * with zero artificial injection. The oracle rebuilds the identical
    * pages in SQL ([[PagesCte]]).
    */
  private def pagedDocs(spark: SparkSession, sfDir: String): DataFrame =
    pageTransform(docs(spark, sfDir))

  /** The reflow as a DataFrame transform — shared with the streaming
    * twin (whose source and batch finish must see the same lines) and
    * the StreamRestartRun harness (whose line-restart tier needs the
    * same multi-line corpus).
    */
  private[graft] def pageTransform(d: DataFrame): DataFrame = {
    val words = "filter(split(lower(text), ' '), x -> x != '')"
    d.select(col("doc_id"), col("source"),
      expr(s"""CASE WHEN size($words) = 0 THEN ''
        ELSE array_join(transform(sequence(1, size($words), 12),
          i -> array_join(slice($words, i, 12), ' ')), '\n') END""")
        .as("text"))
  }

  /** Streaming twin of dedup_lines_cut ([[graft.streaming.StreamLines]]):
    * per-batch first-occurrence line events through the SAME bounded
    * shard-keyed suppression cache as stream_dedup_spans, min-folded
    * into the exact global first-occurrence relation, then the batch
    * finish — same oracle SQL as the batch cut. Arrival-order- and
    * eviction-independent.
    */
  private def streamDedupLines(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.StreamLines.runCutOnce(
      spark, s"$sfDir/documents.parquet",
      s"dup_lines_${Queries.dirTag(sfDir)}", "doc_id",
      pageTransform = pageTransform)

  /** Bounded-state streaming twin of [[dedupSpansApprox]]
    * ([[graft.streaming.StreamSpans.runApproxOnce]]): the span family's
    * fixed-state ingest monitor — see [[streamLinesApprox]] for the
    * discipline.
    */
  private def streamSpansApprox(spark: SparkSession, sfDir: String): DataFrame =
    assertUnsaturated(
      graft.streaming.StreamSpans.runApproxOnce(
        spark, s"$sfDir/documents.parquet",
        s"dup_spans_kmv_${Queries.dirTag(sfDir)}"),
      "kmv_distinct_windows", graft.functions.KmvSketch.TriageK,
      "stream_spans_approx")

  /** Bounded-state streaming twin of [[dedupLinesApprox]]
    * ([[graft.streaming.StreamLines.runApproxOnce]], the
    * stream_cdc_approx discipline): the KMV boilerplate triage run
    * continuously over the documents stream, state = one sketch buffer
    * (≤ k longs) + a counter regardless of corpus size. Shares the batch
    * tier's oracle — same estimator, same arithmetic, same k.
    */
  private def streamLinesApprox(spark: SparkSession, sfDir: String): DataFrame =
    assertUnsaturated(
      graft.streaming.StreamLines.runApproxOnce(
        spark, s"$sfDir/documents.parquet",
        s"dup_lines_kmv_${Queries.dirTag(sfDir)}",
        pageTransform = pageTransform),
      "kmv_distinct_lines", graft.functions.KmvSketch.TriageK,
      "stream_lines_approx")

  /** Line-level duplicate report ([[graft.operators.LineDedupe.duplicateLines]],
    * the RefinedWeb line-wise pass): duplicated-line classes across the
    * paged corpus with occurrence counts and the keep-earliest anchor.
    */
  private def dedupLines(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.LineDedupe.duplicateLines(
      pagedDocs(spark, sfDir), "doc_id", "text", minLineChars = 10)

  /** KMV first-pass tier of the line family
    * ([[graft.operators.LineDedupe.approxDuplicateLines]], the
    * dedup_spans_approx discipline): one narrow sketch pass estimating
    * the corpus's duplicated-line mass before committing to a full cut.
    * Exact below k = 2¹⁸ distinct lines (both verification SFs are),
    * rsd ≈ 0.2 % saturated — the KmvSketchSpec-pinned bound.
    */
  private def dedupLinesApprox(spark: SparkSession, sfDir: String): DataFrame =
    assertUnsaturated(
      graft.operators.LineDedupe.approxDuplicateLines(
        pagedDocs(spark, sfDir), "text", minLineChars = 10),
      "kmv_distinct_lines", graft.functions.KmvSketch.TriageK,
      "dedup_lines_approx")

  /** Cross-source line-duplication matrix —
    * [[graft.operators.LineDedupe.lineProvenance]] rolled up by (dropped
    * doc's source, keeper's source): the directional "who copies whose
    * boilerplate" mass in removed lines/chars, the line-family twin of
    * [[dedupSourceMatrix]]. The provenance relation is dropped-line-sized
    * and the doc→source side joins on doc_id (key-partitioned, never a
    * corpus cross), so the rollup stays |sources|²-bounded.
    */
  private def dedupLinesMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val d = pagedDocs(spark, sfDir)
    val prov = graft.operators.LineDedupe.lineProvenance(
      d, "doc_id", "text", minLineChars = 10)
    graft.operators.LineDedupe.lineSourceMatrix(
      prov, d.select(col("doc_id"), col("source")))
  }

  /** Line-level keep-earliest CUT ([[graft.operators.LineDedupe.cutDuplicateLines]]):
    * the cleaned corpus, one row per document, rebuilt text
    * string-compared against the oracle's SQL reconstruction.
    */
  private def dedupLinesCut(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.LineDedupe.cutDuplicateLines(
      pagedDocs(spark, sfDir), "doc_id", "text", minLineChars = 10)

  /** Incremental line dedup ([[graft.operators.LineDedupe.cutLinesIncremental]]):
    * lower-half doc_ids are the already-ingested base whose persisted
    * line index tonight's upper-half batch cuts against — never a base
    * re-read. The oracle runs the FULL keep-earliest cut in SQL and
    * filters to batch ids, so the refresh shortcut is verified against
    * the from-scratch semantics. The append-only id guard runs on the
    * catalog path too (base ids all < t).
    */
  private def dedupLinesIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val d = pagedDocs(spark, sfDir)
    val t = midDocId(d)
    val idx = graft.operators.LineDedupe.lineIndex(
      d.filter(col("doc_id") < t), "text", minLineChars = 10)
    graft.operators.LineDedupe.cutLinesIncremental(
      idx, d.filter(col("doc_id") >= t), "doc_id", "text",
      minLineChars = 10, baseMaxDocId = Some(t - 1))
  }

  /** Streaming twin of dedup_spans_cut ([[graft.streaming.StreamSpans]]):
    * per-batch first-occurrence events through a shard-keyed BOUNDED
    * suppression cache, min-folded into the exact global first-occurrence
    * relation, then the batch finish — same oracle SQL. Exactness lives
    * in the fold, not the state, so the result is arrival-order- and
    * eviction-independent (no id-ordered ingest contract).
    */
  private def streamDedupSpans(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.StreamSpans.runCutOnce(
      spark, s"$sfDir/documents.parquet",
      s"dup_spans_${Queries.dirTag(sfDir)}", "doc_id")

  /** Term-novelty curve over the corpus in doc_id order
    * ([[TextAnalysis.termNovelty]]): per doc, the fraction of its
    * distinct words first introduced by it. Docs with no words have no
    * row (no terms — nothing to measure), matching the oracle's UNNEST
    * of an empty list.
    */
  private def docNovelty(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.termNovelty(docs(spark, sfDir), "doc_id")

  /** Streaming twin of doc_novelty ([[graft.streaming.StreamNovelty]]):
    * first-introduction events through a word-keyed state store, then
    * the batch finish — same oracle SQL; the stream must land on the
    * batch relation exactly (id-ordered ingest contract).
    */
  private def streamNovelty(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.StreamNovelty.runNoveltyOnce(
      spark, s"$sfDir/documents.parquet",
      s"doc_novelty_${Queries.dirTag(sfDir)}", "doc_id")

  /** Compressibility quality signal ([[TextAnalysis.compressionRatio]]):
    * per-doc LZ4 ratio + entropy band flag. The engine-computed LZ4
    * sizes persist as the `doc_lz4` side table (no LZ4 in SQL engines —
    * the same discipline as the chunk relations); the oracle re-derives
    * byte counts, the ratio division, and the flag independently from
    * documents + that relation.
    */
  private def docCompress(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.plans.Lz4Length.lz4_len
    // side-table the LZ4 pass, then finish from its read-back: Verify
    // compresses the corpus ONCE (the write), not once per consumer;
    // with side tables off, oracleSide returns the computation unchanged
    val sizes = Queries.oracleSide(spark, sfDir, "doc_lz4",
      docs(spark, sfDir).select(col("doc_id"),
        coalesce(lz4_len(encode(col("text"), "UTF-8")), lit(0L))
          .as("lz4_bytes")))
    TextAnalysis.compressionFromSizes(docs(spark, sfDir), "doc_id", "text",
      sizes)
  }

  /** One-row corpus executive summary — the dashboard aggregate a
    * curation run opens with: doc/token/byte volume, exact-duplicate
    * mass (distinct md5 fingerprints), and source/language breadth.
    * All integer aggregates plus two single divisions of exact BIGINTs,
    * so the row is engine-exact. ONE scan; the three COUNT(DISTINCT)s
    * expand map-side and collapse before the single exchange.
    */
  private def corpusReport(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).agg(
      count(lit(1)).as("n_docs"),
      sum(TextAnalysis.tokenCountCol(col("text")).cast("long"))
        .as("n_tokens"),
      sum(octet_length(col("text")).cast("long")).as("n_bytes"),
      countDistinct(md5(col("text").cast("binary"))).as("n_distinct_texts"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"))
    .withColumn("dup_ratio",
      (col("n_docs") - col("n_distinct_texts")).cast("double") /
        col("n_docs").cast("double"))
    .withColumn("mean_doc_bytes",
      col("n_bytes").cast("double") / col("n_docs").cast("double"))

  /** The per-document CDC chunk relation — (doc_id, source, hash, size)
    * at the doc-payload params (min 16 / max 256 / 5 mask bits) — feeds
    * BOTH doc_cdc and source_similarity: one chunking pass per (session,
    * sf dir), shared as a persisted Dataset (the sfChunks/ngramPairs
    * discipline). At 100 TB this is the difference between chunking the
    * corpus once and chunking it per consumer.
    */
  private[graft] def sharedDocChunks(spark: SparkSession, sfDir: String): DataFrame =
    SessionCaches.shared(spark, "doc_cdc_chunks", sfDir) {
      import graft.plans.CdcChunks
      val df = docs(spark, sfDir)
        .select(col("doc_id"), col("source"),
          CdcChunks.cdc_chunks(encode(col("text"), "UTF-8"), minLen = 16,
            maxLen = 256, maskBits = 5))
        .select(col("doc_id"), col("source"), col("hash"), col("size"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize so every consumer reads the cache, not the scan
      df
    }

  /** CDC over in-table payloads via the custom Catalyst Generator
    * expression: chunk each document's UTF-8 bytes (small chunk params for
    * doc-sized payloads), dedup chunks per source.
    */
  private def docCdc(spark: SparkSession, sfDir: String): DataFrame = {
    val chunked = Queries.oracleSide(spark, sfDir, "doc_chunks",
      sharedDocChunks(spark, sfDir).select(col("source"), col("hash"), col("size")))
    chunked
      .groupBy(col("source"), col("hash"))
      .agg(first(col("size")).as("size"), sum(col("size")).as("occ_bytes"))
      .groupBy(col("source"))
      .agg(sum(col("occ_bytes")).as("total_bytes"),
        sum(col("size")).as("unique_bytes"))
      .withColumn("dedup_ratio",
        col("unique_bytes").cast("double") / col("total_bytes").cast("double"))
  }

  /** Composed curation pipeline over documents: quality → lang → exact
    * dedup → near-dedup, with per-(source, fate) accounting. The near-dup
    * stage REUSES the shared exact ngram pair relation (precomputedPairs)
    * instead of re-signing the corpus — one pair pass serves dedup_ngram,
    * dedup_clusters, and this pipeline; exact pairs also make the whole
    * pipeline SQL-expressible, so it carries a full end-to-end oracle.
    */
  private def curate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.CuratePipeline
    val annotated = CuratePipeline.curate(
      docs(spark, sfDir), "doc_id", "text",
      CuratePipeline.CurateParams(minTokens = 20, nearDupThreshold = 0.8),
      precomputedPairs = Some(sharedNgramPairs(spark, sfDir)))
    CuratePipeline.report(annotated)
  }

  /** Per-source content-overlap matrix from KMV sketches over CDC chunk
    * hashes: one distributed sketch pass, then pairwise Jaccard on the
    * collected k-samples (sources × k longs — tiny). Answers "which
    * sources share content" without any pairwise shuffle.
    */
  private def sourceSimilarity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.KmvSketch
    // one chunking pass per session: the cached sharedDocChunks relation
    // also serves doc_cdc
    val chunked = sharedDocChunks(spark, sfDir)
    // pre-aggregate to DISTINCT (source, hash) before sketching: KMV is a
    // set sketch (duplicates are no-ops), but each occurrence row used to
    // pay a full Aggregator encode/decode through the udaf() bridge —
    // the relational distinct collapses duplicates map-side in codegen,
    // leaving the bridge ~occurrence/distinct-factor fewer rows to touch.
    // The distinct relation doubles as the oracle side-table: DuckDB
    // re-derives the KMV samples (1024 smallest in unsigned order) and the
    // saturation-aware Jaccard estimate from the same rows.
    val distinctPairs = Queries.oracleSide(spark, sfDir, "source_chunk_hashes",
      chunked
        .filter(col("source").isNotNull)
        .select(col("source"), col("hash")).distinct())
    val sketches = distinctPairs
      .groupBy(col("source"))
      .agg(KmvSketch.kmv_sample(col("hash")).as("sample"))
      .collect()
      .map(r => (r.getString(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val pairs = for {
      i <- sketches.indices
      j <- (i + 1) until sketches.length
    } yield (sketches(i)._1, sketches(j)._1,
      KmvSketch.jaccardEstimate(sketches(i)._2, sketches(j)._2, k = 1024))
    pairs.toSeq.toDF("source_a", "source_b", "est_jaccard")
  }

  /** Deterministic 10% holdout split over documents — per-(source, split)
    * accounting. Split membership is a pure function of doc_id (md5
    * threshold), so the oracle replays it exactly in SQL.
    */
  private def docSplit(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Sampling
      .hashSplit(docs(spark, sfDir), col("doc_id"), holdoutPct = 10)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  /** Context-window splitting: every document's token span fanned into
    * 64-token windows at stride 48 (25% overlap) — integer window
    * arithmetic replayed by a generate-series oracle.
    */
  private def docWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = size(filter(
      split(lower(coalesce(col("text"), lit(""))), " "), x => x =!= lit("")))
    graft.operators.Packing
      .slidingWindows(docs(spark, sfDir), "doc_id", toks,
        windowSize = 64L, stride = 48L)
      .select(col("id").as("doc_id"), col("win_idx"), col("win_start"),
        col("win_end"), col("win_len"))
  }

  /** Target-mixture composition over four weighted sources (40/30/20/10);
    * unweighted sources drop. Integer-bp planning makes the thresholds —
    * not just the md5 membership — SQL-replayable.
    */
  private def docMixture(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Sampling
      .composeMixture(docs(spark, sfDir), col("doc_id"), col("source"),
        Map("src0" -> 4000, "src1" -> 3000, "src2" -> 2000, "src3" -> 1000))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("kept").cast("long")).as("n_kept"))

  /** Gopher-style quality rules per document (word-count bounds, mean word
    * length, repetition, lexical diversity) — every metric and flag column
    * is integer-derived, so the oracle is cell-exact.
    */
  private def textGopher(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.gopherFlags(docs(spark, sfDir))
      .select(col("doc_id"), col("word_count"), col("mean_word_len"),
        col("top_word_ratio"), col("distinct_ratio"), col("r_word_count"),
        col("r_mean_word_len"), col("r_repetition"), col("r_diversity"),
        col("quality_pass"))

  /** Within-document n-gram repetition (the word-n-gram half of Gopher's
    * repetition rules): top/duplicate bi- and trigram occurrence fractions
    * per document, integer-derived so the oracle is cell-exact.
    */
  private def textRepetition(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.repetitionMetrics(docs(spark, sfDir))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_ratio"),
        col("dup_bigram_frac"), col("n_trigrams"), col("top_trigram_ratio"),
        col("dup_trigram_frac"), col("r_top_bigram"), col("r_dup_bigram"),
        col("repetition_pass"))

  /** Stratified corpus rebalance: keep 100% of src0, 50% of src1, 25% of
    * src2, 10% elsewhere — per-(source, kept) accounting. Membership is a
    * pure function of (doc_id, source rate), replayed exactly in SQL.
    */
  private def docStratified(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Sampling
      .stratifiedHashSample(docs(spark, sfDir), col("doc_id"), col("source"),
        Map("src0" -> 100, "src1" -> 50, "src2" -> 25), defaultPct = 10)
      .groupBy(col("source"), col("kept"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  /** Benchmark decontamination: flag documents sharing word 3-grams with a
    * deterministic held-out "benchmark" slice (doc_id % 97 == 0). The
    * benchmark gram set broadcasts; per-doc hit counts are one shuffle.
    */
  /** Reverse decontamination view ([[graft.operators.Decontaminate
    * .benchCoverage]]): per benchmark document (doc_id % 97 = 0 — the
    * doc_decontam fixture), the fraction of its word trigrams found in
    * the REST of the corpus. The corpus side excludes the benchmark
    * itself (self-coverage would trivially be 100%); fully_covered
    * benchmark items measure memorization, not generalization.
    */
  private def docDecontamCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    graft.operators.Decontaminate.benchCoverage(
      d.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
      d.filter(col("doc_id") % 97 === 0), "doc_id", "text", k = 3)
  }

  private def docDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    graft.operators.Decontaminate
      .report(d, "doc_id", "text", d.filter(col("doc_id") % 97 === 0), "text",
        k = 3, minHits = 1L)
      .select(col("id").as("doc_id"), col("n_grams"), col("n_contaminated"),
        col("contamination_ratio"), col("is_contaminated"))
  }

  /** Same contract as `doc_decontam` through the Bloom-gated two-phase
    * path (bloom prune, exact verify) — identical output by construction
    * (no false negatives; false positives removed by the exact join), so
    * it shares doc_decontam's oracle SQL verbatim. fpp 0.05 keeps the
    * false-positive stage genuinely exercised at test scale.
    */
  private def docDecontamBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    graft.operators.Decontaminate
      .bloomReport(d, "doc_id", "text", d.filter(col("doc_id") % 97 === 0),
        "text", k = 3, minHits = 1L, fpp = 0.05)
      .select(col("id").as("doc_id"), col("n_grams"), col("n_contaminated"),
        col("contamination_ratio"), col("is_contaminated"))
  }

  /** BM25-family keyword search for a fixed 3-term query over the corpus
    * (division-only idf; see TextSearch's determinism contract).
    */
  private def textSearch(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.TextSearch
      .bm25TopK(docs(spark, sfDir), "doc_id", "text",
        Seq("join", "window", "scan"))

  /** Top characteristic terms per source by TF-ICF (division-only idf
    * weight for bit-exact cross-engine scores).
    */
  private def textTopTerms(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.topTermsPerGroup(docs(spark, sfDir), "source", "text", topK = 5)

  /** Token-stream sequence packing over documents ordered by doc_id —
    * global ordered prefix-sum via the two-pass partition-offset shape
    * (no single-partition window), verified against a SQL window cumsum.
    */
  private def docPack(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Packing
      .tokenStreamPack(
        docs(spark, sfDir)
          .select(col("doc_id"),
            TextAnalysis.tokenCountCol(col("text")).cast("long").as("n_tokens")),
        "doc_id", col("n_tokens"), windowSize = 512L)
      .select(col("id").as("doc_id"), col("n_tokens"), col("start_offset"),
        col("pack_id"))

  /** CCNet/RefinedWeb-style passage boilerplate removal over documents:
    * 10-word passages duplicated across >1 documents are dropped, clean
    * text reassembled in order. Relational end-to-end → cell-exact oracle.
    */
  private def docBoilerplate(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Boilerplate
      .removeBoilerplate(docs(spark, sfDir), "doc_id", "text",
        width = 10, maxDocFreq = 1L)
      .select(col("id").as("doc_id"), col("n_passages"), col("n_boilerplate"),
        col("boilerplate_ratio"), col("clean_text"))

  /** Duplicate-span accounting (the ExactSubstr / C4-line-dedup shape at
    * span granularity — this corpus has no newlines, so fixed 8-token
    * spans stand in for lines): each document's token stream is cut into
    * non-overlapping 8-token spans, spans dedupe globally by content hash
    * with the first occurrence in (doc_id, span_idx) order winning, and
    * each document reports how much of it was already seen elsewhere.
    * Span ids pack (doc_id, span_idx) into one long — span_idx < 10⁶
    * keeps the packing order-isomorphic to the pair — so
    * `Dedupe.exactDuplicates` (one hash-partitioned window, one shuffle)
    * is reused verbatim; the doc rollup groups on a prefix of the same
    * key, so no second wide exchange materializes at scale.
    */
  private def spanDedup(spark: SparkSession, sfDir: String): DataFrame =
    spanDedupOn(docs(spark, sfDir))

  /** [[spanDedup]] over an arbitrary (doc_id, text) frame — split out so
    * the packing guard is testable with a planted oversized document.
    */
  private[graft] def spanDedupOn(d: DataFrame): DataFrame = {
    val words = filter(split(lower(col("text")), " "), x => x =!= lit(""))
    val spans = d
      .filter(col("text").isNotNull)
      .select(col("doc_id"), words.as("words"))
      .withColumn("dl", size(col("words")).cast("long"))
      .filter(col("dl") > 0)
      .select(col("doc_id"), col("words"),
        explode(sequence(lit(0L),
          call_function("div", col("dl") + 7L, lit(8L)) - 1L)).as("span_idx"))
    // the (doc_id, span_idx) → doc_id·10⁶ + span_idx packing is only
    // order-isomorphic while span_idx < 10⁶ (docs ≤ 8M tokens); an
    // oversized doc must fail loudly here, not silently alias another
    // doc's spans and corrupt the dedup accounting
    val guardedIdx = when(col("span_idx") < 1000000L, col("span_idx"))
      .otherwise(raise_error(concat(
        lit("span_dedup: doc "), col("doc_id").cast("string"),
        lit(" exceeds 8M tokens (span_idx "), col("span_idx").cast("string"),
        lit(" breaks the 10^6 span_id packing)"))))
    val withId = spans.select(
      (col("doc_id") * 1000000L + guardedIdx).as("span_id"),
      array_join(
        slice(col("words"), (col("span_idx") * 8L + 1L).cast("int"), lit(8)),
        " ").as("span_text"))
    Dedupe.exactDuplicates(withId, "span_id", col("span_text"))
      .select(call_function("div", col("span_id"), lit(1000000L)).as("doc_id"),
        col("is_dup"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(col("is_dup").cast("long")).as("n_dup"),
        (sum(col("is_dup").cast("long")).cast("double") / count(lit(1)))
          .as("dup_frac"))
  }

  /** The fixed retrieval query set for bm25_rank — (query_id, free-text)
    * over the corpus vocabulary. */
  private val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "spark join",
    1L -> "hash table scan",
    2L -> "window batch filter",
    3L -> "stream vector merge")

  /** BM25 top-10 retrieval (k1 = 1.2, b = 0.75) for a broadcast query set,
    * in lm_score's integer-scaled style so every (doc, term) score is the
    * same BIGINT in both engines. With A = ⌊1000·ΣDL/N⌋ (per-mil average
    * doc length), tf normalization is the exact integer ratio
    *   10⁶·220·tf·A // (10·tf·A + 3·A + 9000·dl)
    * (= tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) at the 10⁶ scale), and idf is
    * the log-free rational 10⁶·N // df — the documented deviation from
    * textbook BM25 (no transcendental cross-engine parity risk; rare-term
    * weighting stays monotone in 1/df, dampening comes from the tf
    * saturation term). Exact while 220·tf·A·10⁶ < 2⁶³ — documents to ~40k
    * tokens at avgdl 1000; corpus size only enters through N and the
    * pre-divided A, never as a raw Σdl product. Both halves of that
    * envelope are enforced (`require` on N; a per-row raise on tf), and
    * the final ranking compares the BIGINT scores exactly (long-keyed
    * top-k — no 2^53 double collapse).
    *
    * Plan shape for 100 TB: the exploded term stream is broadcast-filtered
    * to query terms BEFORE the only wide exchange (groupBy (doc, dl,
    * term)); df and the corpus totals are query-set-width broadcasts; the
    * final ranking is the bounded TopKByScore partial+final aggregate —
    * no window sort, no unbounded shuffle.
    */
  private def bm25Rank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wordsExpr = filter(split(lower(col("text")), " "), x => x =!= lit(""))
    val d = docs(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), wordsExpr.as("words"))
      .select(col("doc_id"), col("words"),
        size(col("words")).cast("long").as("dl"))
    val totals = d.agg(count(lit(1)), sum(col("dl"))).collect()(0)
    val nDocs = totals.getLong(0)
    val avgdlMil = 1000L * totals.getLong(1) / nDocs // exact: ⌊1000·ΣDL/N⌋
    require(nDocs > 0 && avgdlMil > 0, "bm25_rank: empty corpus")
    // the scaladoc's 2^63 envelope, enforced: idf·tfn ≤ 10⁶·N · 2.2·10⁷
    // must not wrap (idf ≤ 10⁶·N at df=1; tfn < 10⁶·220/10)
    require(nDocs <= Long.MaxValue / (1000000L * 22000000L),
      s"bm25_rank: $nDocs docs overflows the 10^6-scaled integer idf*tfn " +
        "envelope (~4.1e5 docs max); rescale idf (10^6 -> 10^3) first")
    val qterms = Bm25Queries
      .flatMap { case (qid, s) => s.split(" ").map(t => (qid, t)) }
      .toDF("query_id", "term")
    // per-row half of the envelope: the tfn numerator 2.2·10⁸·tf·A needs
    // tf ≤ 2^63 / (2.2·10⁸·A) — the scaladoc's "~40k tokens at avgdl
    // 1000"; an oversized doc must raise, not silently wrap
    val maxTf = Long.MaxValue / (220L * 1000000L * avgdlMil)
    val tf = d
      .select(col("doc_id"), col("dl"), explode(col("words")).as("term"))
      .join(broadcast(qterms.select(col("term")).distinct()), "term")
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tf",
        when(col("tf") <= lit(maxTf), col("tf"))
          .otherwise(raise_error(concat(
            lit("bm25_rank: tf "), col("tf").cast("string"),
            lit(s" exceeds the 2^63 envelope (max $maxTf at this avgdl)")))))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = call_function("div", lit(1000000L) * nDocs, col("df"))
    val tfn = call_function("div",
      lit(1000000L * 220L) * col("tf") * avgdlMil,
      lit(10L) * col("tf") * avgdlMil + lit(3L) * avgdlMil +
        lit(9000L) * col("dl"))
    tf.join(broadcast(dfreq), "term")
      .withColumn("s", call_function("div", idf * tfn, lit(1000000L)))
      .join(broadcast(qterms), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s")).as("score_scaled"))
      .groupBy(col("query_id"))
      // long-keyed top-k: scores are integer-scaled BIGINTs, and a double
      // buffer key would collapse distinct scores past 2^53
      .agg(graft.functions.TopK
        .top_k_by_long_score(col("score_scaled"), col("doc_id"), 10)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("doc_id"),
        col("col._1").as("score_scaled"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_curate" -> curate _,
    "doc_split" -> docSplit _,
    "doc_mixture" -> docMixture _,
    "doc_temperature_mix" -> docTemperatureMix _,
    "doc_budget_mix" -> docBudgetMix _,
    "doc_windows" -> docWindows _,
    "text_gopher" -> textGopher _,
    "text_repetition" -> textRepetition _,
    "doc_stratified" -> docStratified _,
    "doc_decontam" -> docDecontam _,
    "doc_decontam_coverage" -> docDecontamCoverage _,
    "doc_decontam_bloom" -> docDecontamBloom _,
    "text_top_terms" -> textTopTerms _,
    "text_search" -> textSearch _,
    "doc_pack" -> docPack _,
    "doc_pack_bpe" -> docPackBpe _,
    "doc_boilerplate" -> docBoilerplate _,
    "source_similarity" -> sourceSimilarity _,
    "dedup_exact" -> dedupExact _,
    "dedup_prefix" -> dedupPrefix _,
    "dedup_incremental" -> dedupIncremental _,
    "dedup_minhash" -> minhashPairs _,
    "dedup_minhash_incremental" -> minhashIncremental _,
    "dedup_simhash" -> simhashPairs _,
    "dedup_ngram" -> ngramPairs _,
    "dedup_containment" -> dedupContainment _,
    "dedup_spans" -> dedupSpans _,
    "dedup_spans_approx" -> dedupSpansApprox _,
    "dedup_spans_approx_source" -> dedupSpansApproxSource _,
    "dedup_spans_cut" -> dedupSpansCut _,
    "dedup_spans_incremental" -> dedupSpansIncremental _,
    "dedup_spans_provenance" -> dedupSpansProvenance _,
    "dedup_source_matrix" -> dedupSourceMatrix _,
    "dedup_lines" -> dedupLines _,
    "dedup_lines_approx" -> dedupLinesApprox _,
    "dedup_lines_matrix" -> dedupLinesMatrix _,
    "dedup_lines_cut" -> dedupLinesCut _,
    "dedup_lines_incremental" -> dedupLinesIncremental _,
    "stream_dedup_lines" -> streamDedupLines _,
    "stream_lines_approx" -> streamLinesApprox _,
    "stream_spans_approx" -> streamSpansApprox _,
    "stream_dedup_spans" -> streamDedupSpans _,
    "dedup_lsh_eval" -> dedupLshEval _,
    "dedup_clusters" -> dedupClusters _,
    "dedup_keep_best" -> dedupKeepBest _,
    "dedup_neardup_matrix" -> dedupNeardupMatrix _,
    "doc_novelty" -> docNovelty _,
    "stream_novelty" -> streamNovelty _,
    "corpus_report" -> corpusReport _,
    "doc_compress" -> docCompress _,
    "text_tokens" -> textTokens _,
    "text_tokens_bpe" -> textTokensBpe _,
    "bpe_train" -> bpeTrain _,
    "bpe_apply" -> bpeApply _,
    "doc_shuffle" -> docShuffle _,
    "doc_interleave" -> docInterleave _,
    "doc_length_buckets" -> docLengthBuckets _,
    "text_quality" -> textQuality _,
    "text_stats" -> textStats _,
    "text_heavy_hitters" -> textHeavyHitters _,
    "stream_heavy_hitters" -> streamHeavyHitters _,
    "doc_len_quantiles" -> docLenQuantiles _,
    "text_quality_full" -> qualityFull _,
    "quality_classifier" -> qualityClassifier _,
    "lm_score" -> lmScore _,
    "doc_shards" -> docShards _,
    "doc_select_topk" -> docSelectTopk _,
    "lang_id" -> langId _,
    "lang_id_eval" -> langIdEval _,
    "doc_fingerprint" -> docFingerprint _,
    "substring_dup" -> substringDup _,
    "doc_cdc" -> docCdc _,
    "span_dedup" -> spanDedup _,
    "bm25_rank" -> bm25Rank _
  )

  /** Shared oracle for doc_novelty AND stream_novelty: per-doc distinct
    * words vs the min-doc_id first introduction of each word.
    */
  private val SpansCutSql: String =
      """WITH words AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, i AS pos, array_to_string(ws[i:i+19], ' ') AS win
        |  FROM words, UNNEST(generate_series(1, len(ws) - 19)) AS t(i)
        |  WHERE len(ws) >= 20),
        |firsts AS (
        |  SELECT win, doc_id AS f_doc, pos AS f_pos FROM (
        |    SELECT win, doc_id, pos,
        |      row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn,
        |      count(*) OVER (PARTITION BY win) AS c
        |    FROM wins) WHERE rn = 1 AND c > 1),
        |cutpos AS (
        |  SELECT DISTINCT doc_id, tp FROM (
        |    SELECT w.doc_id, UNNEST(generate_series(w.pos, w.pos + 19)) AS tp
        |    FROM wins w JOIN firsts f USING (win)
        |    WHERE NOT (w.doc_id = f.f_doc AND w.pos = f.f_pos))),
        |tok AS (
        |  SELECT doc_id, UNNEST(ws) AS word,
        |    UNNEST(generate_series(1, len(ws))) AS tp
        |  FROM words),
        |kept AS (
        |  SELECT tok.doc_id,
        |    array_to_string(list(tok.word ORDER BY tok.tp), ' ') AS text_cut,
        |    count(*) AS kept_n
        |  FROM tok LEFT JOIN cutpos
        |    ON tok.doc_id = cutpos.doc_id AND tok.tp = cutpos.tp
        |  WHERE cutpos.tp IS NULL
        |  GROUP BY tok.doc_id)
        |SELECT words.doc_id, len(ws) AS n_tokens,
        |  len(ws) - coalesce(kept.kept_n, 0) AS cut_tokens,
        |  coalesce(kept.text_cut, '') AS text_cut
        |FROM words LEFT JOIN kept USING (doc_id)""".stripMargin

  /** Shared oracle for dedup_spans_provenance and the source matrix
    * built on top of it: redundancy, gaps-and-islands runs, and the
    * arg_min keeper, re-derived from the words themselves.
    */
  private val SpansProvenanceSql: String =
    """WITH words AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |wins AS (
      |  SELECT doc_id, i AS pos, array_to_string(ws[i:i+19], ' ') AS win
      |  FROM words, UNNEST(generate_series(1, len(ws) - 19)) AS t(i)
      |  WHERE len(ws) >= 20),
      |firsts AS (
      |  SELECT win, doc_id AS f_doc, pos AS f_pos FROM (
      |    SELECT win, doc_id, pos,
      |      row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn,
      |      count(*) OVER (PARTITION BY win) AS c
      |    FROM wins) WHERE rn = 1 AND c > 1),
      |red AS (
      |  SELECT w.doc_id, w.pos, f.f_doc, f.f_pos
      |  FROM wins w JOIN firsts f USING (win)
      |  WHERE NOT (w.doc_id = f.f_doc AND w.pos = f.f_pos)),
      |runs AS (
      |  SELECT doc_id, pos, f_doc, f_pos,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM red)
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |  CAST(max(pos) - min(pos) + 20 AS BIGINT) AS span_tokens,
      |  arg_min(f_doc, pos) AS kept_doc,
      |  CAST(arg_min(f_pos, pos) AS BIGINT) AS kept_pos
      |FROM runs GROUP BY doc_id, grp""".stripMargin

  private val NoveltySql: String =
    """WITH w AS (
      |  SELECT doc_id, UNNEST(list_distinct(
      |    list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS word
      |  FROM documents),
      |f AS (SELECT word, MIN(doc_id) AS first_id FROM w GROUP BY word)
      |SELECT w.doc_id, COUNT(*) AS n_terms,
      |  CAST(SUM(CASE WHEN w.doc_id = f.first_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_new,
      |  CAST(SUM(CASE WHEN w.doc_id = f.first_id THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS novelty
      |FROM w JOIN f USING (word)
      |GROUP BY w.doc_id""".stripMargin

  /** Shared CTE block deriving the exact ngram-Jaccard pair relation
    * (threshold 0.3) — the SQL twin of `sharedNgramPairs`, reused by the
    * dedup_ngram / dedup_clusters / pipeline_curate oracles.
    */
  private val NgramCtes: String =
    """w AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
      |  FROM documents),
      |g0 AS (
      |  SELECT doc_id, UNNEST(list_distinct(
      |    CASE WHEN len(words) >= 3
      |      THEN list_transform(range(1, len(words) - 1), i -> array_to_string(words[i:i+2], ' '))
      |      ELSE [array_to_string(words, ' ')] END)) AS gram
      |  FROM w),
      |g AS (SELECT doc_id, gram FROM g0 WHERE gram IS NOT NULL AND gram <> ''),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |ngram_pairs AS (
      |  SELECT id_a, id_b,
      |    CAST(n_common AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - n_common AS DOUBLE) AS jaccard,
      |    CAST(n_common AS DOUBLE) / CAST(sa.n_grams AS DOUBLE) AS containment_a,
      |    CAST(n_common AS DOUBLE) / CAST(sb.n_grams AS DOUBLE) AS containment_b
      |  FROM common
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - n_common AS DOUBLE) >= 0.3)""".stripMargin

  /** Shared by dedup_lines / dedup_lines_cut: the paged corpus
    * ([[pagedDocs]] in SQL — identical 12-word reflow), its 1-based line
    * relation, and the eligible (length >= 10) subset.
    */
  private val PagesCtes: String =
    """pages AS (
      |  SELECT doc_id, source,
      |    CASE WHEN len(words) = 0 THEN ''
      |      ELSE array_to_string(list_transform(range(1, len(words)+1, 12),
      |        i -> array_to_string(words[i:i+11], ' ')), chr(10)) END AS text
      |  FROM (SELECT doc_id, source,
      |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
      |        FROM documents)),
      |plines AS (
      |  SELECT doc_id, CAST(u.ord AS BIGINT) AS ord, u.line AS line
      |  FROM (SELECT doc_id, UNNEST(list_transform(range(1, len(arr)+1),
      |          i -> {'ord': i, 'line': arr[i]})) AS u
      |        FROM (SELECT doc_id, string_split(text, chr(10)) AS arr
      |              FROM pages))),
      |pelig AS (SELECT * FROM plines WHERE length(line) >= 10)""".stripMargin

  /** The full keep-earliest line cut over the paged corpus — shared by
    * dedup_lines_cut and (batch-filtered) dedup_lines_incremental.
    */
  /** The KMV substring-duplication triage — shared by dedup_spans_approx
    * and its bounded-state streaming twin stream_spans_approx. Valid at
    * the verification SFs, where distinct window cardinality (17 k at
    * sf0.01, 170 k at sf0.1) is below the KMV k = 2^18, so the sketch is
    * provably exact and equals COUNT(DISTINCT win). At sketch-saturating
    * scales this oracle would not hold — which is the point of the
    * sketch (the cdc_estimate_approx precedent).
    */
  private val SpansApproxSql: String =
    """WITH words AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      |  FROM documents),
      |wins AS (
      |  SELECT array_to_string(ws[i:i+19], ' ') AS win
      |  FROM words, UNNEST(generate_series(1, len(ws) - 19)) AS t(i)
      |  WHERE len(ws) >= 20),
      |t AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS total_windows,
      |    CAST(COUNT(DISTINCT win) AS BIGINT) AS kmv_distinct_windows
      |  FROM wins)
      |SELECT total_windows, kmv_distinct_windows,
      |  total_windows - kmv_distinct_windows AS dup_windows,
      |  CASE WHEN total_windows = 0 THEN 0.0
      |    ELSE CAST(total_windows - kmv_distinct_windows AS DOUBLE)
      |      / total_windows END AS dup_fraction
      |FROM t""".stripMargin

  /** The KMV line-duplication triage — shared by dedup_lines_approx and
    * its bounded-state streaming twin stream_lines_approx. Valid at the
    * verification SFs, where distinct eligible-line cardinality is below
    * the KMV k = 2^18 so the sketch is provably exact and equals
    * COUNT(DISTINCT line) (modulo the 64-bit line-hash identity — the
    * same accepted trade as the span tier).
    */
  private val LinesApproxSql: String =
    s"""WITH $PagesCtes,
       |t AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS total_lines,
       |    CAST(COUNT(DISTINCT line) AS BIGINT) AS kmv_distinct_lines
       |  FROM pelig)
       |SELECT total_lines, kmv_distinct_lines,
       |  total_lines - kmv_distinct_lines AS dup_lines,
       |  CASE WHEN total_lines = 0 THEN 0.0
       |    ELSE CAST(total_lines - kmv_distinct_lines AS DOUBLE)
       |      / total_lines END AS dup_fraction
       |FROM t""".stripMargin

  /** The keep-earliest redundancy relation shared by the line cut,
    * incremental, streaming-cut, and matrix oracles: the globally
    * earliest (doc, ord) per duplicated line (the `dupfirsts` window
    * shape — defined ONCE), then every non-keeper occurrence with its
    * keeper. Carries the union of the consumers' columns (cut uses
    * (doc_id, ord, chars); the matrix uses (line, f_doc)); DuckDB
    * prunes what a consumer doesn't read.
    */
  private val LinesDropsCtes: String =
    s"""$PagesCtes,
       |dupfirsts AS (
       |  SELECT line, doc_id AS f_doc, ord AS f_ord FROM (
       |    SELECT line, doc_id, ord,
       |      ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, ord) AS rn,
       |      COUNT(*) OVER (PARTITION BY line) AS n_occ
       |    FROM pelig) WHERE rn = 1 AND n_occ > 1),
       |drops AS (
       |  SELECT e.doc_id, e.ord, e.line,
       |    CAST(length(e.line) AS BIGINT) AS chars, f.f_doc
       |  FROM pelig e JOIN dupfirsts f USING (line)
       |  WHERE NOT (e.doc_id = f.f_doc AND e.ord = f.f_ord))""".stripMargin

  private val LinesCutSql: String =
    s"""WITH $LinesDropsCtes,
       |kept AS (
       |  SELECT l.doc_id, l.ord, l.line FROM plines l
       |  LEFT JOIN drops d ON d.doc_id = l.doc_id AND d.ord = l.ord
       |  WHERE d.doc_id IS NULL),
       |reb AS (
       |  SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS text_clean
       |  FROM kept GROUP BY doc_id),
       |dstats AS (
       |  SELECT doc_id, COUNT(*) AS n_dropped, SUM(chars) AS chars_dropped
       |  FROM drops GROUP BY doc_id)
       |SELECT p.doc_id,
       |  CAST(len(string_split(p.text, chr(10))) AS BIGINT) AS n_lines,
       |  CAST(COALESCE(ds.n_dropped, 0) AS BIGINT) AS n_dropped,
       |  CAST(COALESCE(ds.chars_dropped, 0) AS BIGINT) AS chars_dropped,
       |  COALESCE(r.text_clean, '') AS text_clean
       |FROM pages p
       |LEFT JOIN reb r USING (doc_id)
       |LEFT JOIN dstats ds USING (doc_id)""".stripMargin

  /** Shared by lang_id and lang_id_eval: the full prediction relation
    * (doc_id, lang, lang_pred) in pure SQL. */
  private val LangIdPredSql: String =
    """WITH wq AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN text IS NULL OR text = '' THEN NULL
        |         ELSE list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> x <> '')[1:200] END AS words
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang, words,
        |    len(list_filter(words, w -> w IN ('the','and','of','to','is','in','that','it','with'))) AS s_en,
        |    len(list_filter(words, w -> w IN ('der','die','das','und','ist','nicht','ein','mit'))) AS s_de,
        |    len(list_filter(words, w -> w IN ('le','la','les','et','est','une','dans','pour'))) AS s_fr,
        |    len(list_filter(words, w -> w IN ('el','la','los','las','es','una','por','para'))) AS s_es,
        |    len(list_filter(words, w -> w IN ('il','la','che','di','non','per','una','sono'))) AS s_it
        |  FROM wq)
        |SELECT doc_id, lang,
        |  CASE WHEN words IS NULL THEN 'und'
        |       WHEN regexp_matches(array_to_string(words, ' '), '[一-鿿]') THEN 'zh'
        |       WHEN greatest(s_en, s_de, s_fr, s_es, s_it) = 0 THEN 'und'
        |       WHEN s_it = greatest(s_en, s_de, s_fr, s_es, s_it) THEN 'it'
        |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_it) THEN 'fr'
        |       WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_it) THEN 'es'
        |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_it) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |FROM sc""".stripMargin

  /** Shared by text_heavy_hitters and its streaming twin — exact counts
    * because both sketches run below capacity (max_undercount pinned 0).
    */
  private val HeavyHittersSql: String =
    """SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS est_count,
      |  CAST(0 AS BIGINT) AS max_undercount
      |FROM (SELECT UNNEST(list_filter(string_split(lower(text), ' '),
      |        x -> x <> '')) AS w
      |      FROM documents)
      |GROUP BY w ORDER BY est_count DESC, word ASC LIMIT 20""".stripMargin

  /** Shared by doc_decontam and doc_decontam_bloom: the Bloom-gated path
    * is exact by construction, so both verify against the same SQL.
    */
  private val DecontamSql: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
      |  FROM documents),
      |g0 AS (
      |  SELECT doc_id, UNNEST(list_distinct(
      |    CASE WHEN len(words) >= 3
      |      THEN list_transform(range(1, len(words) - 1), i -> array_to_string(words[i:i+2], ' '))
      |      ELSE [array_to_string(words, ' ')] END)) AS gram
      |  FROM w),
      |g AS (SELECT doc_id, gram FROM g0 WHERE gram IS NOT NULL AND gram <> ''),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
      |hits AS (
      |  SELECT g.doc_id, COUNT(*) AS nc FROM g JOIN bench USING (gram)
      |  GROUP BY g.doc_id)
      |SELECT s.doc_id, CAST(s.n_grams AS BIGINT) AS n_grams,
      |  CAST(COALESCE(h.nc, 0) AS BIGINT) AS n_contaminated,
      |  CAST(COALESCE(h.nc, 0) AS DOUBLE) / CAST(s.n_grams AS DOUBLE)
      |    AS contamination_ratio,
      |  COALESCE(h.nc, 0) >= 1 AS is_contaminated
      |FROM sizes s LEFT JOIN hits h USING (doc_id)""".stripMargin

  /** text_search oracle: every floating-point step mirrors TextSearch's
    * expression tree — term contributions are summed left-to-right in
    * term order, 0.25/0.75/0.5 are exactly representable, and EVERY
    * fractional constant is CAST to DOUBLE: DuckDB parses bare numeric
    * literals as DECIMAL and would otherwise evaluate sub-expressions
    * like tf * (1.2 + 1) in exact decimal arithmetic, landing 1 ulp away
    * from Spark's double path.
    */
  private val TextSearchSql: String = {
    val terms = Seq("join", "window", "scan")
    val half = "CAST(0.5 AS DOUBLE)"
    val k1 = "CAST(1.2 AS DOUBLE)"
    val tfDefs = terms.zipWithIndex
      .map { case (t, i) => s"    len(list_filter(words, x -> x = '$t')) AS tf_$i" }
      .mkString(",\n")
    val dfDefs = terms.indices
      .map(i => s"    COUNT(*) FILTER (WHERE tf_$i > 0) AS df_$i")
      .mkString(",\n")
    val contribs = terms.indices
      .map(i => s"(s.n - s.df_$i + $half) / (s.df_$i + $half) * (tf_$i * ($k1 + 1))" +
        s" / (tf_$i + $k1 * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / s.avgdl))")
      .mkString("\n  + ")
    val tfSum = terms.indices.map(i => s"tf_$i").mkString(" + ")
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, len(words) AS dl,
       |$tfDefs
       |  FROM w),
       |s AS (
       |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
       |$dfDefs
       |  FROM d)
       |SELECT doc_id,
       |  $contribs
       |  AS score,
       |  CAST($tfSum AS BIGINT) AS n_hits
       |FROM d, s
       |WHERE $tfSum > 0
       |ORDER BY score DESC, doc_id ASC
       |LIMIT 20""".stripMargin
  }

  // def, not val: the SQL embeds oracleSidePath, which must resolve AFTER
  // Verify sets graft.oracle.sfbase / root — object-init-time vals bake in
  // the defaults before main() runs
  def oracles: Map[String, String] = Map(
    "span_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
        |  FROM documents WHERE text IS NOT NULL),
        |nz AS (SELECT doc_id, words, len(words) AS dl FROM d WHERE len(words) > 0),
        |s AS (SELECT doc_id, words, dl,
        |    UNNEST(range(0, (dl + 7) // 8)) AS span_idx FROM nz),
        |sp AS (SELECT doc_id, span_idx,
        |    md5(array_to_string(
        |      list_slice(words, span_idx * 8 + 1, LEAST(span_idx * 8 + 8, dl)),
        |      ' ')) AS fp
        |  FROM s),
        |f AS (SELECT fp, MIN(doc_id * 1000000 + span_idx) AS first_span
        |  FROM sp GROUP BY fp)
        |SELECT sp.doc_id, COUNT(*) AS n_spans,
        |  CAST(SUM(CASE WHEN sp.doc_id * 1000000 + sp.span_idx <> f.first_span
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN sp.doc_id * 1000000 + sp.span_idx <> f.first_span
        |       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
        |FROM sp JOIN f USING (fp) GROUP BY sp.doc_id""".stripMargin,
    "bm25_rank" ->
      """WITH q AS (SELECT * FROM (VALUES
        |    (0, 'spark'), (0, 'join'),
        |    (1, 'hash'), (1, 'table'), (1, 'scan'),
        |    (2, 'window'), (2, 'batch'), (2, 'filter'),
        |    (3, 'stream'), (3, 'vector'), (3, 'merge')) AS t(query_id, term)),
        |d AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
        |  FROM documents WHERE text IS NOT NULL),
        |dd AS (SELECT doc_id, words, CAST(len(words) AS BIGINT) AS dl FROM d),
        |n AS (SELECT COUNT(*) AS n_docs,
        |    (1000 * SUM(dl)) // COUNT(*) AS a FROM dd),
        |w AS (SELECT doc_id, dl, UNNEST(words) AS term FROM dd),
        |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf
        |  FROM w JOIN (SELECT DISTINCT term FROM q) USING (term)
        |  GROUP BY 1, 2, 3),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |sc AS (SELECT tf.doc_id, tf.term,
        |    ((1000000 * n.n_docs // df.df) *
        |     ((1000000 * 220 * tf.tf * n.a) //
        |      (10 * tf.tf * n.a + 3 * n.a + 9000 * tf.dl))) // 1000000 AS s
        |  FROM tf JOIN df USING (term), n),
        |qs AS (SELECT q.query_id, sc.doc_id, SUM(s) AS score_scaled
        |  FROM sc JOIN q USING (term) GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score_scaled,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score_scaled DESC, doc_id) AS rank
        |  FROM qs)
        |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
        |  doc_id, CAST(score_scaled AS BIGINT) AS score_scaled
        |FROM r WHERE rank <= 10""".stripMargin,
    "text_search" -> TextSearchSql,
    "doc_decontam_bloom" -> DecontamSql,
    "doc_boilerplate" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(words[i*10+1 : i*10+10], ' ') AS ptext
        |  FROM w, UNNEST(range(0, CAST(ceil(len(words) / 10.0) AS BIGINT))) t(i)
        |  WHERE len(words) > 0),
        |pdf AS (SELECT ptext, COUNT(DISTINCT doc_id) AS pdf FROM p GROUP BY ptext)
        |SELECT p.doc_id, COUNT(*) AS n_passages,
        |  CAST(SUM(CASE WHEN pdf.pdf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
        |  CAST(SUM(CASE WHEN pdf.pdf > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        |    AS boilerplate_ratio,
        |  COALESCE(string_agg(CASE WHEN pdf.pdf <= 1 THEN p.ptext END, ' '
        |    ORDER BY p.pos), '') AS clean_text
        |FROM p JOIN pdf USING (ptext)
        |GROUP BY p.doc_id""".stripMargin,
    "text_top_terms" ->
      """WITH w AS (
        |  SELECT source, UNNEST(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS word
        |  FROM documents),
        |tf AS (SELECT source, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
        |cf AS (SELECT word, COUNT(*) AS cf FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT source) AS ng FROM documents),
        |s AS (
        |  SELECT tf.source, tf.word, tf.tf, cf.cf,
        |    CAST(tf.tf * n.ng AS DOUBLE) / CAST(cf.cf AS DOUBLE) AS score
        |  FROM tf JOIN cf USING (word) CROSS JOIN n),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY score DESC, word ASC) AS rank FROM s)
        |SELECT source, CAST(rank AS BIGINT) AS rank, word, tf, cf, score
        |FROM r WHERE rank <= 5""".stripMargin,
    "doc_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |  start_offset // 512 AS pack_id
        |FROM c""".stripMargin,
    "doc_pack_bpe" ->
      s"""WITH RECURSIVE ${graft.operators.BpeTrain.tokenizeCtesSql(
             "documents", "text", "doc_id", bpeTrainK)},
        |c AS (
        |  SELECT doc_id, n_tokens_learned AS n_tokens,
        |    CAST(COALESCE(SUM(n_tokens_learned) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM __tok)
        |SELECT doc_id, n_tokens, start_offset,
        |  start_offset // 512 AS pack_id
        |FROM c""".stripMargin,
    "text_gopher" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(words) AS wc,
        |    CAST(COALESCE(list_sum(list_transform(words, x -> len(x))), 0) AS DOUBLE)
        |      / greatest(len(words), 1) AS mean_word_len,
        |    CAST(COALESCE(list_max(list_transform(list_distinct(words),
        |        w -> len(list_filter(words, x -> x = w)))), 0) AS DOUBLE)
        |      / greatest(len(words), 1) AS top_word_ratio,
        |    CAST(len(list_distinct(words)) AS DOUBLE)
        |      / greatest(len(words), 1) AS distinct_ratio
        |  FROM w)
        |SELECT doc_id, CAST(wc AS BIGINT) AS word_count, mean_word_len,
        |  top_word_ratio, distinct_ratio,
        |  wc BETWEEN 20 AND 80 AS r_word_count,
        |  mean_word_len BETWEEN 2.0 AND 12.0 AS r_mean_word_len,
        |  top_word_ratio <= 0.12 AS r_repetition,
        |  distinct_ratio >= 0.4 AS r_diversity,
        |  (wc BETWEEN 20 AND 80) AND (mean_word_len BETWEEN 2.0 AND 12.0)
        |    AND (top_word_ratio <= 0.12) AND (distinct_ratio >= 0.4) AS quality_pass
        |FROM m""".stripMargin,
    "text_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(words) >= 2 THEN
        |      list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])
        |    ELSE []::VARCHAR[] END AS bi,
        |    CASE WHEN len(words) >= 3 THEN
        |      list_transform(range(1, len(words) - 1), i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
        |    ELSE []::VARCHAR[] END AS tri
        |  FROM w),
        |m AS (
        |  SELECT doc_id, len(bi) AS nb,
        |    COALESCE(list_max(list_transform(list_distinct(bi), x -> len(list_filter(bi, y -> y = x)))), 0) AS topb,
        |    len(list_filter(bi, x -> len(list_filter(bi, y -> y = x)) >= 2)) AS dupb,
        |    len(tri) AS nt,
        |    COALESCE(list_max(list_transform(list_distinct(tri), x -> len(list_filter(tri, y -> y = x)))), 0) AS topt,
        |    len(list_filter(tri, x -> len(list_filter(tri, y -> y = x)) >= 2)) AS dupt
        |  FROM g)
        |SELECT doc_id,
        |  CAST(nb AS BIGINT) AS n_bigrams,
        |  CAST(topb AS DOUBLE) / greatest(nb, 1) AS top_bigram_ratio,
        |  CAST(dupb AS DOUBLE) / greatest(nb, 1) AS dup_bigram_frac,
        |  CAST(nt AS BIGINT) AS n_trigrams,
        |  CAST(topt AS DOUBLE) / greatest(nt, 1) AS top_trigram_ratio,
        |  CAST(dupt AS DOUBLE) / greatest(nt, 1) AS dup_trigram_frac,
        |  CAST(topb AS DOUBLE) / greatest(nb, 1) <= 0.08 AS r_top_bigram,
        |  CAST(dupb AS DOUBLE) / greatest(nb, 1) <= 0.10 AS r_dup_bigram,
        |  (CAST(topb AS DOUBLE) / greatest(nb, 1) <= 0.08)
        |    AND (CAST(dupb AS DOUBLE) / greatest(nb, 1) <= 0.10) AS repetition_pass
        |FROM m""".stripMargin,
    "doc_stratified" ->
      """SELECT source,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |    CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN '8000'
        |      WHEN 'src2' THEN '4000' ELSE '1999' END AS kept,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "doc_decontam" -> DecontamSql,
    "doc_decontam_coverage" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
        |  FROM documents),
        |g0 AS (
        |  SELECT doc_id, UNNEST(list_distinct(
        |    CASE WHEN len(words) >= 3
        |      THEN list_transform(range(1, len(words) - 1), i -> array_to_string(words[i:i+2], ' '))
        |      ELSE [array_to_string(words, ' ')] END)) AS gram
        |  FROM w),
        |g AS (SELECT doc_id, gram FROM g0 WHERE gram IS NOT NULL AND gram <> ''),
        |cg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 <> 0),
        |bg AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 = 0),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM bg GROUP BY doc_id),
        |hits AS (
        |  SELECT b.doc_id, COUNT(*) AS nf FROM bg b JOIN cg USING (gram)
        |  GROUP BY b.doc_id)
        |SELECT s.doc_id AS bench_id, CAST(s.n_grams AS BIGINT) AS n_grams,
        |  CAST(COALESCE(h.nf, 0) AS BIGINT) AS n_found,
        |  COALESCE(h.nf, 0) * 10000 // s.n_grams AS coverage_bp,
        |  COALESCE(h.nf, 0) = s.n_grams AS fully_covered
        |FROM sizes s LEFT JOIN hits h USING (doc_id)""".stripMargin,
    "doc_cdc" ->
      s"""WITH per AS (
        |  SELECT source, hash, MIN(size) AS size, SUM(size) AS occ_bytes
        |  FROM read_parquet('${Queries.oracleSidePath("doc_chunks")}')
        |  GROUP BY source, hash)
        |SELECT source, CAST(SUM(occ_bytes) AS BIGINT) AS total_bytes,
        |  CAST(SUM(size) AS BIGINT) AS unique_bytes,
        |  CAST(SUM(size) AS DOUBLE) / CAST(SUM(occ_bytes) AS DOUBLE) AS dedup_ratio
        |FROM per GROUP BY source""".stripMargin,
    "dedup_ngram" ->
      s"""WITH $NgramCtes
        |SELECT id_a, id_b, jaccard, containment_a, containment_b
        |FROM ngram_pairs""".stripMargin,
    "dedup_lsh_eval" ->
      s"""WITH s AS (SELECT * FROM read_parquet('${Queries.oracleSidePath("lsheval_sigs")}')),
        |truth AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM s a JOIN s b ON a.id < b.id
        |  WHERE len(a.shingles) + len(b.shingles)
        |      - len(list_intersect(a.shingles, b.shingles)) > 0
        |    AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |      / (len(a.shingles) + len(b.shingles)
        |         - len(list_intersect(a.shingles, b.shingles))) >= 0.3),
        |bands AS (
        |  SELECT id, b, sig[b*4+1:b*4+4] AS slice
        |  FROM s, (SELECT UNNEST(range(0, 16)) AS b) bs),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.slice = b.slice AND a.id < b.id),
        |found AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c JOIN s sa ON sa.id = c.id_a JOIN s sb ON sb.id = c.id_b
        |  WHERE len(sa.shingles) + len(sb.shingles)
        |      - len(list_intersect(sa.shingles, sb.shingles)) > 0
        |    AND CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        |      / (len(sa.shingles) + len(sb.shingles)
        |         - len(list_intersect(sa.shingles, sb.shingles))) >= 0.3),
        |m AS (SELECT
        |  (SELECT COUNT(*) FROM truth) AS true_pairs,
        |  (SELECT COUNT(*) FROM found) AS found_pairs,
        |  (SELECT COUNT(*) FROM truth t WHERE NOT EXISTS (
        |     SELECT 1 FROM found f WHERE f.id_a = t.id_a AND f.id_b = t.id_b))
        |    AS missed_pairs,
        |  (SELECT COUNT(*) FROM found f WHERE NOT EXISTS (
        |     SELECT 1 FROM truth t WHERE t.id_a = f.id_a AND t.id_b = f.id_b))
        |    AS false_pos)
        |SELECT (SELECT COUNT(*) FROM s) AS n_docs,
        |  true_pairs, found_pairs, missed_pairs, false_pos,
        |  CASE WHEN true_pairs = 0 THEN CAST(10000 AS BIGINT)
        |    ELSE CAST((true_pairs - missed_pairs) * 10000 // true_pairs AS BIGINT)
        |  END AS recall_bp
        |FROM m""".stripMargin,
    "dedup_spans_cut" -> SpansCutSql,
    "stream_dedup_spans" -> SpansCutSql,
    "dedup_spans_incremental" ->
      // the full keep-earliest cut, filtered to the batch half: the
      // incremental operator must land on exactly this relation
      s"""SELECT * FROM (
         |$SpansCutSql
         |) q WHERE doc_id >= (SELECT (MAX(doc_id) + 1) // 2 FROM documents)""".stripMargin,
    "dedup_spans_provenance" -> SpansProvenanceSql,
    "dedup_source_matrix" ->
      s"""WITH s AS (SELECT doc_id, source FROM documents)
         |SELECT s.source, k.source AS kept_source,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(p.span_tokens) AS BIGINT) AS dup_tokens
         |FROM (
         |$SpansProvenanceSql
         |) p JOIN s USING (doc_id) JOIN s k ON p.kept_doc = k.doc_id
         |GROUP BY s.source, k.source""".stripMargin,
    "dedup_lines" ->
      s"""WITH $PagesCtes,
         |stats AS (
         |  SELECT line, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
         |  FROM pelig GROUP BY line HAVING COUNT(*) > 1),
         |firsts AS (
         |  SELECT line, doc_id AS first_doc, ord AS first_ord FROM (
         |    SELECT line, doc_id, ord,
         |      ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, ord) AS rn
         |    FROM pelig) WHERE rn = 1)
         |SELECT s.line, CAST(s.n_occ AS BIGINT) AS n_occ,
         |  CAST(s.n_docs AS BIGINT) AS n_docs,
         |  CAST(length(s.line) AS BIGINT) AS line_chars,
         |  f.first_doc, f.first_ord
         |FROM stats s JOIN firsts f USING (line)""".stripMargin,
    // NOTE: exactness conditions documented on [[LinesApproxSql]]
    "dedup_lines_approx" -> LinesApproxSql,
    // the bounded-state streaming twin shares the batch tier's oracle:
    // same estimator, same arithmetic, same k (exact below it)
    "stream_lines_approx" -> LinesApproxSql,
    "dedup_lines_matrix" ->
      s"""WITH $LinesDropsCtes,
         |s AS (SELECT doc_id, source FROM documents)
         |SELECT s.source, k.source AS kept_source,
         |  CAST(count(*) AS BIGINT) AS n_lines,
         |  CAST(sum(length(d.line)) AS BIGINT) AS dup_chars
         |FROM drops d JOIN s USING (doc_id) JOIN s k ON d.f_doc = k.doc_id
         |GROUP BY s.source, k.source""".stripMargin,
    "dedup_lines_cut" -> LinesCutSql,
    // the streaming twin must land on the batch cut exactly
    "stream_dedup_lines" -> LinesCutSql,
    "dedup_lines_incremental" ->
      // the full keep-earliest line cut, filtered to the batch half: the
      // incremental operator must land on exactly this relation
      s"""SELECT * FROM (
         |$LinesCutSql
         |) q WHERE doc_id >= (SELECT (MAX(doc_id) + 1) // 2 FROM documents)""".stripMargin,
    "dedup_spans_approx" -> SpansApproxSql,
    // the bounded-state streaming twin shares the batch tier's oracle:
    // same estimator, same arithmetic, same k (exact below it)
    "stream_spans_approx" -> SpansApproxSql,
    "dedup_spans_approx_source" ->
      """WITH words AS (
        |  SELECT source,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |wins AS (
        |  SELECT source, array_to_string(ws[i:i+19], ' ') AS win
        |  FROM words, UNNEST(generate_series(1, len(ws) - 19)) AS t(i)
        |  WHERE len(ws) >= 20),
        |t AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS total_windows,
        |    CAST(COUNT(DISTINCT win) AS BIGINT) AS kmv_distinct_windows
        |  FROM wins GROUP BY source)
        |SELECT source, total_windows, kmv_distinct_windows,
        |  total_windows - kmv_distinct_windows AS dup_windows,
        |  CASE WHEN total_windows = 0 THEN 0.0
        |    ELSE CAST(total_windows - kmv_distinct_windows AS DOUBLE)
        |      / total_windows END AS dup_fraction
        |FROM t""".stripMargin,
    "dedup_spans" ->
      """WITH words AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, i AS pos, array_to_string(ws[i:i+19], ' ') AS win
        |  FROM words, UNNEST(generate_series(1, len(ws) - 19)) AS t(i)
        |  WHERE len(ws) >= 20),
        |dup AS (
        |  SELECT doc_id, pos
        |  FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY win) AS c
        |        FROM wins)
        |  WHERE c > 1),
        |isl AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM dup)
        |SELECT doc_id, min(pos) AS span_start,
        |  max(pos) - min(pos) + 20 AS span_tokens
        |FROM isl GROUP BY doc_id, grp""".stripMargin,
    "dedup_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(
        |      (list_filter(string_split(lower(text), ' '), x -> x <> ''))
        |        [1:(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) + 1) // 2],
        |      ' ') AS text
        |  FROM documents WHERE doc_id % 5 = 0),
        |w AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
        |  FROM corpus),
        |g0 AS (
        |  SELECT doc_id, UNNEST(list_distinct(
        |    CASE WHEN len(words) >= 3
        |      THEN list_transform(range(1, len(words) - 1), i -> array_to_string(words[i:i+2], ' '))
        |      ELSE [array_to_string(words, ' ')] END)) AS gram
        |  FROM w),
        |g AS (SELECT doc_id, gram FROM g0 WHERE gram IS NOT NULL AND gram <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |x AS (
        |  SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
        |    CAST(sa.n_grams AS BIGINT) AS na, CAST(sb.n_grams AS BIGINT) AS nb,
        |    n_common * 10000 // sa.n_grams AS cont_a_bp,
        |    n_common * 10000 // sb.n_grams AS cont_b_bp
        |  FROM common
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b, n_common, na, nb, cont_a_bp, cont_b_bp,
        |  CASE WHEN cont_a_bp >= 9000 AND cont_b_bp >= 9000 THEN 'mutual'
        |       WHEN cont_a_bp >= 9000 THEN 'a_in_b'
        |       ELSE 'b_in_a' END AS relation
        |FROM x WHERE GREATEST(cont_a_bp, cont_b_bp) >= 9000""".stripMargin,
    "doc_compress" ->
      s"""SELECT d.doc_id,
        |  CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
        |  z.lz4_bytes,
        |  CASE WHEN octet_length(encode(d.text)) > 0
        |    THEN CAST(z.lz4_bytes AS DOUBLE) / CAST(octet_length(encode(d.text)) AS DOUBLE)
        |    ELSE 1.0 END AS compress_ratio,
        |  CASE WHEN octet_length(encode(d.text)) > 0
        |    THEN CAST(z.lz4_bytes AS DOUBLE) / CAST(octet_length(encode(d.text)) AS DOUBLE)
        |      BETWEEN 0.3 AND 1.0
        |    ELSE TRUE END AS entropy_pass
        |FROM documents d
        |JOIN read_parquet('${Queries.oracleSidePath("doc_lz4")}') z
        |  ON d.doc_id = z.doc_id""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $NgramCtes,
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM ngram_pairs
        |  UNION
        |  SELECT id_b AS src, id_a AS dst FROM ngram_pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)
        |SELECT id, CAST(MIN(r) AS BIGINT) AS cluster_id FROM reach GROUP BY id""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $NgramCtes,
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM ngram_pairs
        |  UNION
        |  SELECT id_b AS src, id_a AS dst FROM ngram_pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        |cl AS (SELECT id, CAST(MIN(r) AS BIGINT) AS cluster_id FROM reach GROUP BY id),
        |sc AS (SELECT doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS score
        |  FROM documents),
        |wc AS (SELECT sc.doc_id, cl.cluster_id, sc.score
        |  FROM sc LEFT JOIN cl ON cl.id = sc.doc_id)
        |SELECT doc_id, COALESCE(cluster_id, doc_id) AS cluster_id, score,
        |  CASE WHEN cluster_id IS NULL THEN TRUE
        |    ELSE ROW_NUMBER() OVER (PARTITION BY cluster_id
        |           ORDER BY score DESC, doc_id ASC) = 1 END AS keep
        |FROM wc""".stripMargin,
    "dedup_neardup_matrix" ->
      s"""WITH RECURSIVE $NgramCtes,
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM ngram_pairs
        |  UNION
        |  SELECT id_b AS src, id_a AS dst FROM ngram_pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        |cl AS (SELECT id, CAST(MIN(r) AS BIGINT) AS cluster_id FROM reach GROUP BY id),
        |sc AS (SELECT doc_id, source,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS score
        |  FROM documents),
        |rk AS (SELECT sc.doc_id, sc.source, cl.cluster_id, sc.score,
        |    ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
        |      ORDER BY sc.score DESC, sc.doc_id ASC) AS rn
        |  FROM sc JOIN cl ON cl.id = sc.doc_id),
        |kept AS (SELECT cluster_id, source AS kept_source FROM rk WHERE rn = 1)
        |SELECT rk.source, kept.kept_source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(rk.score) AS BIGINT) AS drop_tokens
        |FROM rk JOIN kept USING (cluster_id) WHERE rk.rn > 1
        |GROUP BY rk.source, kept.kept_source""".stripMargin,
    "pipeline_curate" ->
      s"""WITH $NgramCtes,
        |q AS (
        |  SELECT doc_id, source, text,
        |    length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
        |    md5(text) AS fp
        |  FROM documents),
        |e AS (
        |  SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id FROM q),
        |f AS (
        |  SELECT doc_id, source, n_tokens,
        |    (text IS NULL OR n_tokens < 20) AS quality_fail,
        |    (doc_id <> canonical_id) AS is_dup
        |  FROM e),
        |alive AS (SELECT doc_id FROM f WHERE NOT quality_fail AND NOT is_dup),
        |nd AS (
        |  SELECT DISTINCT id_b FROM ngram_pairs
        |  WHERE jaccard >= 0.8
        |    AND id_a IN (SELECT doc_id FROM alive)
        |    AND id_b IN (SELECT doc_id FROM alive)),
        |fates AS (
        |  SELECT source,
        |    CASE WHEN quality_fail THEN 'quality'
        |         WHEN is_dup THEN 'exact_dup'
        |         WHEN doc_id IN (SELECT id_b FROM nd) THEN 'near_dup'
        |         ELSE 'kept' END AS fate,
        |    n_tokens
        |  FROM f)
        |SELECT source, fate, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM fates GROUP BY source, fate""".stripMargin,
    // Winnowing (Schleimer'03) replayed in SQL: the k=8 rolling hash with
    // Long wraparound equals the direct polynomial Σ c_j·257^(7-j) mod 2^64
    // (computed in HUGEINT, mapped back to signed BIGINT); the monotonic-
    // deque sliding minimum (ties → rightmost) equals MIN over a composite
    // key (order-preserving unsigned hash) · 2^32 + (2^32-1 − position),
    // recorded whenever the minimum's POSITION changes (classic winnowing).
    "substring_dup" ->
      s"""WITH f AS (
        |  SELECT DISTINCT doc_id, fp
        |  FROM read_parquet('${Queries.oracleSidePath("fp_rel")}'))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_fp
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 5""".stripMargin,
    "doc_fingerprint" ->
      """WITH d AS (SELECT doc_id, lower(text) AS s FROM documents),
        |pos AS (
        |  SELECT doc_id, s, UNNEST(range(1, len(s) - 8 + 2)) AS i
        |  FROM d WHERE s IS NOT NULL AND len(s) >= 8),
        |hh AS (
        |  SELECT doc_id, i,
        |    (CAST(ord(substr(s, i+0, 1)) AS HUGEINT) * 74051159531521793 +
        |     CAST(ord(substr(s, i+1, 1)) AS HUGEINT) * 288136807515649 +
        |     CAST(ord(substr(s, i+2, 1)) AS HUGEINT) * 1121154893057 +
        |     CAST(ord(substr(s, i+3, 1)) AS HUGEINT) * 4362470401 +
        |     CAST(ord(substr(s, i+4, 1)) AS HUGEINT) * 16974593 +
        |     CAST(ord(substr(s, i+5, 1)) AS HUGEINT) * 66049 +
        |     CAST(ord(substr(s, i+6, 1)) AS HUGEINT) * 257 +
        |     CAST(ord(substr(s, i+7, 1)) AS HUGEINT))
        |      % 18446744073709551616 AS hu_raw
        |  FROM pos),
        |h AS (
        |  SELECT doc_id, i,
        |    CAST(CASE WHEN hu_raw >= 9223372036854775808
        |         THEN hu_raw - 18446744073709551616 ELSE hu_raw END AS BIGINT) AS h,
        |    ((hu_raw + 9223372036854775808) % 18446744073709551616) * 4294967296
        |      + (4294967295 - i) AS key
        |  FROM hh),
        |mn AS (
        |  SELECT doc_id, i, h,
        |    MIN(key) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS mkey,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS n
        |  FROM h),
        |win AS (
        |  SELECT doc_id, i,
        |    (mkey // 4294967296 + 9223372036854775808) % 18446744073709551616 AS mh_u,
        |    4294967295 - (mkey % 4294967296) AS mpos,
        |    LAG(4294967295 - (mkey % 4294967296)) OVER (PARTITION BY doc_id ORDER BY i) AS prev_mpos,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS rn
        |  FROM mn WHERE n > 16 AND i >= 16),
        |rec AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN mh_u >= 9223372036854775808
        |         THEN mh_u - 18446744073709551616 ELSE mh_u END AS BIGINT) AS fp
        |  FROM win WHERE rn = 1 OR mpos <> prev_mpos
        |  UNION ALL
        |  SELECT h.doc_id, MIN(h.h) AS fp
        |  FROM h JOIN (SELECT DISTINCT doc_id FROM mn WHERE n <= 16) sm USING (doc_id)
        |  GROUP BY h.doc_id)
        |SELECT doc_id, CAST(COUNT(DISTINCT fp) AS INT) AS n_fingerprints,
        |  MIN(fp) AS min_fingerprint
        |FROM rec GROUP BY doc_id
        |UNION ALL
        |SELECT doc_id, 0, NULL FROM d WHERE s IS NULL OR len(s) < 8""".stripMargin,
    "lang_id" -> LangIdPredSql,
    "lang_id_eval" ->
      s"""WITH p AS ($LangIdPredSql),
        |c AS (SELECT lang, lang_pred, COUNT(*) AS n FROM p GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS lang_total
        |  FROM c GROUP BY 1)
        |SELECT lang, lang_pred, CAST(n AS BIGINT) AS n, lang_total,
        |  n * 10000 // lang_total AS cell_bp
        |FROM c JOIN t USING (lang)""".stripMargin,
    "dedup_minhash" ->
      s"""WITH s AS (SELECT * FROM read_parquet('${Queries.oracleSidePath("minhash_sigs")}')),
        |bands AS (
        |  SELECT id, b, sig[b*4+1:b*4+4] AS slice
        |  FROM s, (SELECT UNNEST(range(0, 16)) AS b) bs),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.slice = b.slice AND a.id < b.id),
        |v AS (
        |  SELECT c.id_a, c.id_b,
        |    CAST(len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 64.0 AS est_jaccard,
        |    len(list_intersect(sa.shingles, sb.shingles)) AS inter,
        |    len(sa.shingles) AS la, len(sb.shingles) AS lb
        |  FROM cand c JOIN s sa ON sa.id = c.id_a JOIN s sb ON sb.id = c.id_b)
        |SELECT id_a, id_b, est_jaccard,
        |  CAST(inter AS DOUBLE) / CAST(la + lb - inter AS DOUBLE) AS jaccard
        |FROM v
        |WHERE la + lb - inter > 0
        |  AND CAST(inter AS DOUBLE) / CAST(la + lb - inter AS DOUBLE) >= 0.3""".stripMargin,
    "dedup_minhash_incremental" ->
      s"""WITH bs AS (SELECT * FROM read_parquet('${Queries.oracleSidePath("iminh_batch_sigs")}')),
        |ix AS (SELECT * FROM read_parquet('${Queries.oracleSidePath("iminh_index_sigs")}')),
        |bb AS (
        |  SELECT id, b, sig[b*4+1:b*4+4] AS slice
        |  FROM bs, (SELECT UNNEST(range(0, 16)) AS b) t),
        |ib AS (
        |  SELECT id, b, sig[b*4+1:b*4+4] AS slice
        |  FROM ix, (SELECT UNNEST(range(0, 16)) AS b) t),
        |cand AS (
        |  SELECT DISTINCT a.id AS id, i.id AS match_id
        |  FROM bb a JOIN ib i ON a.b = i.b AND a.slice = i.slice),
        |v AS (
        |  SELECT c.id, c.match_id,
        |    len(list_intersect(sa.shingles, sb.shingles)) AS inter,
        |    len(sa.shingles) AS la, len(sb.shingles) AS lb
        |  FROM cand c JOIN bs sa ON sa.id = c.id JOIN ix sb ON sb.id = c.match_id),
        |j AS (
        |  SELECT id, match_id,
        |    CAST(inter AS DOUBLE) / CAST(la + lb - inter AS DOUBLE) AS jaccard
        |  FROM v WHERE la + lb - inter > 0),
        |best AS (
        |  SELECT id, match_id, jaccard,
        |    row_number() OVER (PARTITION BY id ORDER BY jaccard DESC, match_id ASC) AS rn
        |  FROM j WHERE jaccard >= 0.3)
        |SELECT bs.id,
        |  CASE WHEN b.match_id IS NOT NULL THEN 'neardup' ELSE 'new' END AS status,
        |  b.match_id, b.jaccard
        |FROM bs LEFT JOIN (SELECT id, match_id, jaccard FROM best WHERE rn = 1) b
        |  USING (id)""".stripMargin,
    "dedup_simhash" ->
      s"""WITH s AS (SELECT * FROM read_parquet('${Queries.oracleSidePath("simhash_sigs")}'))
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        |FROM s a JOIN s b ON a.id < b.id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin,
    "source_similarity" ->
      s"""WITH o AS (
        |  SELECT DISTINCT source, xor(hash, -9223372036854775807 - 1) AS o
        |  FROM read_parquet('${Queries.oracleSidePath("source_chunk_hashes")}')),
        |r AS (
        |  SELECT source, o,
        |    row_number() OVER (PARTITION BY source ORDER BY o) AS rn
        |  FROM o),
        |samp AS (SELECT source, o FROM r WHERE rn <= 1024),
        |info AS (SELECT source, COUNT(*) AS n, MAX(o) AS mx FROM samp GROUP BY source),
        |pairs AS (
        |  SELECT a.source AS source_a, b.source AS source_b
        |  FROM info a JOIN info b ON a.source < b.source),
        |u AS (
        |  SELECT p.source_a, p.source_b, s.o,
        |    MAX(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
        |    MAX(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
        |  FROM pairs p JOIN samp s ON s.source IN (p.source_a, p.source_b)
        |  GROUP BY p.source_a, p.source_b, s.o),
        |thr AS (
        |  SELECT p.source_a, p.source_b,
        |    MIN(CASE WHEN i.n >= 1024 THEN i.mx END) AS t
        |  FROM pairs p JOIN info i ON i.source IN (p.source_a, p.source_b)
        |  GROUP BY p.source_a, p.source_b),
        |uf AS (
        |  SELECT u.source_a, u.source_b, u.in_a, u.in_b,
        |    row_number() OVER (PARTITION BY u.source_a, u.source_b ORDER BY u.o) AS rn
        |  FROM u JOIN thr ON thr.source_a = u.source_a AND thr.source_b = u.source_b
        |  WHERE thr.t IS NULL OR u.o <= thr.t)
        |SELECT source_a, source_b,
        |  CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS est_jaccard
        |FROM uf WHERE rn <= 1024 GROUP BY source_a, source_b""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, md5(text) AS fp,
        |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        |  doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        |FROM documents""".stripMargin,
    "dedup_incremental" ->
      """WITH inc AS (
        |  SELECT doc_id, md5(substr(text, 1, 40)) AS fp FROM documents WHERE doc_id % 2 = 1),
        |idx AS (
        |  SELECT DISTINCT md5(substr(text, 1, 40)) AS fp FROM documents WHERE doc_id % 2 = 0),
        |j AS (
        |  SELECT i.doc_id, i.fp, x.fp IS NOT NULL AS known
        |  FROM inc i LEFT JOIN idx x USING (fp)),
        |f AS (
        |  SELECT doc_id, fp, known,
        |    MIN(doc_id) OVER (PARTITION BY fp) AS first_id FROM j)
        |SELECT doc_id, fp,
        |  CASE WHEN known THEN 'known'
        |       WHEN doc_id <> first_id THEN 'intra_dup'
        |       ELSE 'new' END AS status
        |FROM f""".stripMargin,
    "dedup_prefix" ->
      """SELECT doc_id, md5(substr(text, 1, 40)) AS fp,
        |  MIN(doc_id) OVER (PARTITION BY md5(substr(text, 1, 40))) AS canonical_id,
        |  doc_id <> MIN(doc_id) OVER (PARTITION BY md5(substr(text, 1, 40))) AS is_dup
        |FROM documents""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id, length(text) AS n_chars_m,
        |  length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
        |FROM documents""".stripMargin,
    "bpe_train" ->
      graft.operators.BpeTrain.learnOracleSql("documents", "text", bpeTrainK),
    "bpe_apply" ->
      graft.operators.BpeTrain.tokenizeOracleSql(
        "documents", "text", "doc_id", bpeTrainK),
    "doc_shuffle" ->
      """SELECT doc_id,
        |  md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS sort_key,
        |  ROW_NUMBER() OVER (
        |    ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |    AS position
        |FROM documents""".stripMargin,
    "doc_interleave" ->
      """WITH s AS (
        |  SELECT source,
        |    DENSE_RANK() OVER (ORDER BY source) - 1 AS source_idx,
        |    COUNT(DISTINCT source) OVER () AS n_sources,
        |    doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |      AS rank_in_source
        |  FROM documents)
        |SELECT doc_id, source, rank_in_source, source_idx,
        |  rank_in_source * n_sources + source_idx AS slot
        |FROM s""".stripMargin,
    "doc_length_buckets" ->
      s"""WITH t AS (
        |  SELECT length(text) - length(replace(text, ' ', '')) + 1
        |    AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT n_tokens,
        |    CAST(${graft.operators.Packing.pow2BucketSql("n_tokens")} AS BIGINT)
        |      AS bucket_len
        |  FROM t)
        |SELECT bucket_len, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(GREATEST(bucket_len - n_tokens, 0)) AS BIGINT)
        |    AS sum_padding
        |FROM b GROUP BY bucket_len""".stripMargin,
    "doc_novelty" -> NoveltySql,
    // streaming twin must land on the batch answer exactly — same SQL
    "stream_novelty" -> NoveltySql,
    "corpus_report" ->
      """SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)
        |    AS n_tokens,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes,
        |  COUNT(DISTINCT md5(text)) AS n_distinct_texts,
        |  COUNT(DISTINCT source) AS n_sources,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
        |    AS dup_ratio,
        |  CAST(SUM(octet_length(encode(text))) AS DOUBLE) / COUNT(*)
        |    AS mean_doc_bytes
        |FROM documents""".stripMargin,
    "text_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(COALESCE(list_sum(list_transform(
        |    list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), x -> x <> ''),
        |    x -> 1 + (length(x) - 1) // 4)), 0) AS BIGINT) AS n_tokens_bpe
        |FROM documents""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE)
        |    / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) AS avg_token_len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
        |    / CAST(GREATEST(length(text), 1) AS DOUBLE) AS punct_ratio
        |FROM documents""".stripMargin,
    "doc_select_topk" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
        |      / CAST(GREATEST(length(text), 1) AS DOUBLE) AS punct_ratio,
        |    CASE WHEN len(words) > 0 THEN
        |      CAST(len(list_filter(words, x -> x IN ('the','a','an','and','or','of','to','in',
        |        'is','it','that','for','on','with','as','at','by','be','this','are','was'))) AS DOUBLE)
        |        / CAST(len(words) AS DOUBLE)
        |    ELSE 0.0 END AS stopword_ratio
        |  FROM (SELECT doc_id, source, text,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
        |        FROM documents)),
        |s AS (
        |  SELECT doc_id, source,
        |    -1.0 + 0.02 * (CAST(n_tokens AS DOUBLE) - 50.0)
        |      + 10.0 * stopword_ratio + -15.0 * punct_ratio AS logit
        |  FROM q),
        |r AS (
        |  SELECT source, doc_id, logit,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY logit DESC, doc_id ASC) AS rank
        |  FROM s WHERE logit IS NOT NULL)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, logit
        |FROM r WHERE rank <= 5""".stripMargin,
    "doc_shards" ->
      """SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "lm_score" ->
      """WITH d AS (
        |  SELECT doc_id, lower(text) AS s FROM documents
        |  WHERE text IS NOT NULL AND length(text) >= 2),
        |pos AS (SELECT doc_id, s, UNNEST(range(1, len(s))) AS i FROM d),
        |bi AS (SELECT doc_id, substr(s, i, 1) AS c1, substr(s, i + 1, 1) AS c2 FROM pos),
        |cnt AS (SELECT c1, c2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
        |pre AS (SELECT c1, CAST(SUM(c12) AS BIGINT) AS c1n FROM cnt GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, (1000000 * c12) // c1n AS ps
        |  FROM bi JOIN cnt USING (c1, c2) JOIN pre USING (c1))
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(ps) AS BIGINT) AS score_scaled,
        |  CAST(SUM(ps) AS DOUBLE) / COUNT(*) AS avg_scaled
        |FROM sc GROUP BY doc_id""".stripMargin,
    "quality_classifier" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
        |      / CAST(GREATEST(length(text), 1) AS DOUBLE) AS punct_ratio,
        |    CASE WHEN len(words) > 0 THEN
        |      CAST(len(list_filter(words, x -> x IN ('the','a','an','and','or','of','to','in',
        |        'is','it','that','for','on','with','as','at','by','be','this','are','was'))) AS DOUBLE)
        |        / CAST(len(words) AS DOUBLE)
        |    ELSE 0.0 END AS stopword_ratio
        |  FROM (SELECT doc_id, text,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
        |        FROM documents)),
        |s AS (
        |  SELECT doc_id,
        |    -1.0 + 0.02 * (CAST(n_tokens AS DOUBLE) - 50.0)
        |      + 10.0 * stopword_ratio + -15.0 * punct_ratio AS logit
        |  FROM q)
        |SELECT doc_id, logit, logit > 0 AS keep FROM s""".stripMargin,
    "text_quality_full" ->
      """SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |  CAST(length(text) - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE)
        |    / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) AS avg_token_len,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
        |    / CAST(GREATEST(length(text), 1) AS DOUBLE) AS punct_ratio,
        |  CASE WHEN len(words) > 0 THEN
        |    CAST(len(list_filter(words, x -> x IN ('the','a','an','and','or','of','to','in',
        |      'is','it','that','for','on','with','as','at','by','be','this','are','was'))) AS DOUBLE)
        |      / CAST(len(words) AS DOUBLE)
        |  ELSE 0.0 END AS stopword_ratio
        |FROM (SELECT doc_id, text,
        |        list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
        |      FROM documents)""".stripMargin,
    "doc_split" ->
      """SELECT source,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
        |       THEN 'holdout' ELSE 'train' END AS split,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "doc_windows" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n
        |  FROM documents),
        |nz AS (
        |  SELECT doc_id, n,
        |    CASE WHEN n <= 64 THEN 1 ELSE 1 + (n - 64 + 47) // 48 END AS nw
        |  FROM d WHERE n > 0),
        |e AS (SELECT doc_id, n, UNNEST(range(0, nw)) AS win_idx FROM nz)
        |SELECT doc_id, CAST(win_idx AS BIGINT) AS win_idx,
        |  CAST(win_idx * 48 AS BIGINT) AS win_start,
        |  CAST(LEAST(n, win_idx * 48 + 64) AS BIGINT) AS win_end,
        |  CAST(LEAST(n, win_idx * 48 + 64) - win_idx * 48 AS BIGINT) AS win_len
        |FROM e""".stripMargin,
    "doc_budget_mix" ->
      """WITH s AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
        |      AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN length(text) - length(replace(text, ' ', '')) + 1
        |      BETWEEN 20 AND 80 THEN 1 ELSE 0 END) AS BIGINT) AS pass_docs
        |  FROM documents GROUP BY source),
        |r AS (
        |  SELECT *, pass_docs / n_docs AS pass_frac,
        |    CAST(ROW_NUMBER() OVER (
        |      ORDER BY pass_docs / n_docs DESC, source ASC) AS BIGINT)
        |      AS alloc_rank,
        |    CAST(COALESCE(SUM(n_tokens) OVER (
        |      ORDER BY pass_docs / n_docs DESC, source ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM s),
        |b AS (SELECT CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget FROM s)
        |SELECT source, n_docs, n_tokens, pass_docs, pass_frac, alloc_rank,
        |  cum_before,
        |  LEAST(n_tokens, GREATEST(budget - cum_before, 0)) AS take_tokens,
        |  LEAST(n_tokens, GREATEST(budget - cum_before, 0)) / n_tokens
        |    AS take_frac
        |FROM r, b""".stripMargin,
    "doc_mixture" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |w AS (SELECT * FROM (VALUES ('src0', 4000), ('src1', 3000),
        |  ('src2', 2000), ('src3', 1000)) AS t(source, wbp)),
        |nn AS (SELECT MIN(c.n * 10000 // w.wbp) AS tgt
        |  FROM c JOIN w USING (source)),
        |thr AS (
        |  SELECT w.source,
        |    CASE WHEN ((nn.tgt * w.wbp // 10000) * 65536 // c.n) >= 65536 THEN 'g'
        |         ELSE printf('%04x', (nn.tgt * w.wbp // 10000) * 65536 // c.n)
        |    END AS thr
        |  FROM w JOIN c USING (source), nn),
        |k AS (
        |  SELECT d.source,
        |    CASE WHEN t.thr IS NOT NULL
        |          AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < t.thr
        |         THEN 1 ELSE 0 END AS kept
        |  FROM documents d LEFT JOIN thr t ON d.source = t.source)
        |SELECT source, COUNT(*) AS n_total, CAST(SUM(kept) AS BIGINT) AS n_kept
        |FROM k GROUP BY source""".stripMargin,
    "doc_temperature_mix" ->
      """WITH p AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS score
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS docs_sum,
        |  CAST(SUM(score) AS BIGINT) AS score_sum FROM p)
        |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  n_docs * 10000 // docs_sum AS prop_bp,
        |  score,
        |  score * 10000 // score_sum AS temp_bp,
        |  (docs_sum // 2) * score // score_sum AS quota_docs
        |FROM p, t""".stripMargin,
    "text_heavy_hitters" -> HeavyHittersSql,
    "stream_heavy_hitters" -> HeavyHittersSql,
    "doc_len_quantiles" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  quantile_disc(n_chars, 0.25) AS p25,
        |  quantile_disc(n_chars, 0.5) AS p50,
        |  quantile_disc(n_chars, 0.75) AS p75,
        |  quantile_disc(n_chars, 0.9) AS p90,
        |  quantile_disc(n_chars, 0.99) AS p99
        |FROM documents GROUP BY lang""".stripMargin,
    "text_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY lang, source""".stripMargin
  )
}
