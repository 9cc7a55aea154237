package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.ChunkerParams

/** Flat result record mirroring the reference's EstimationResult
  * (reference: de/estimate.py:13-23). Result cardinality is tiny
  * (formats × groups), so it lives happily as a collected case class.
  */
final case class EstimationResult(
    group: String,
    format: String,
    numfiles: Long,
    total_len: Long,
    chunk_bytes: Long,
    compressed_chunk_bytes: Long,
    dedup_ratio: Double,
    xet_bytes: Long,
    xet_dedup_ratio: Double)

/** The estimator core: every query is a groupBy/agg over the chunk
  * occurrence relation (SURVEY §2.4). The only wide dependency in the whole
  * estimator is the hash-keyed shuffle; at 100 TB (~1.6e9 chunks of ~64 B
  * rows ≈ 100 GB of shuffle vs 100 TB of narrow scan+chunk work) the
  * shuffle is not the bottleneck — partition count just needs to track
  * distinct-chunk count.
  */
object Estimator {

  /** Per-hash merged relation (A1, reference src/store.rs:114-130):
    * first_seen_in = min file index, seen_in = ascending set of file
    * indexes, one entry per file regardless of occurrence count.
    * `first(size)` is value-neutral: equal hash ⟹ equal bytes ⟹ equal size
    * (src/store.rs:62's overwrite has the same property).
    */
  def merged(chunks: Dataset[ChunkRow]): DataFrame =
    chunks
      .groupBy(col("hash"))
      .agg(
        min(col("file_idx")).as("first_seen_in"),
        sort_array(collect_set(col("file_idx"))).as("seen_in"),
        first(col("size")).as("size"),
        first(col("compressed")).as("compressed"),
        sum(col("size")).as("occurrence_bytes"),
        count(lit(1)).as("occurrences"))

  /** (total, unique-chunk bytes, unique-compressed bytes) in ONE shuffle
    * (A2, reference src/store.rs:132-136): the per-hash partial aggregate
    * carries both the distinct-size and the occurrence-sum, then a tiny
    * final fold adds them up.
    */
  def stats(chunks: Dataset[ChunkRow]): (Long, Long, Long) = {
    val row = chunks
      .groupBy(col("hash"))
      .agg(
        first(col("size")).as("size"),
        first(col("compressed")).as("compressed"),
        sum(col("size")).as("occ_bytes"))
      .agg(
        coalesce(sum(col("occ_bytes")), lit(0L)).as("total"),
        coalesce(sum(col("size")), lit(0L)).as("chunk_bytes"),
        coalesce(sum(col("compressed")), lit(0L)).as("compressed_chunk_bytes"))
      .head()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** 128-bit-identity totals: dedup keyed on (hash, hash2) — use at the
    * 1e9+-chunk scale where 64-bit birthday collisions would silently
    * conflate distinct chunks (SURVEY §7.4-5).
    */
  def stats128(chunks: Dataset[ChunkRow128]): (Long, Long, Long) = {
    val row = chunks
      .groupBy(col("hash"), col("hash2"))
      .agg(
        first(col("size")).as("size"),
        first(col("compressed")).as("compressed"),
        sum(col("size")).as("occ_bytes"))
      .agg(
        coalesce(sum(col("occ_bytes")), lit(0L)).as("total"),
        coalesce(sum(col("size")), lit(0L)).as("chunk_bytes"),
        coalesce(sum(col("compressed")), lit(0L)).as("compressed_chunk_bytes"))
      .head()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** Approximate estimate (the "approximate distinct" framing in
    * BASELINE.json, reserved as extension in SURVEY §2.4-A4): HLL++
    * `approx_count_distinct` over chunk hashes × mean chunk size. ONE
    * narrow aggregation — no hash-keyed shuffle at all, so at 100 TB the
    * whole estimate is a scan-side partial aggregate + a tiny final merge;
    * accuracy is rsd-bounded (default 1%).
    */
  def statsApprox(chunks: Dataset[ChunkRow], rsd: Double = 0.01): (Long, Long, Double) = {
    val row = chunks
      .agg(
        coalesce(sum(col("size")), lit(0L)).as("total"),
        approx_count_distinct(col("hash"), rsd).as("approx_unique"),
        count(lit(1)).as("occurrences"))
      .head()
    val total = row.getLong(0)
    val approxUnique = row.getLong(1)
    val occ = row.getLong(2)
    val avgChunk = if (occ == 0) 0.0 else total.toDouble / occ
    (total, approxUnique, approxUnique * avgChunk)
  }

  /** Xet-style unique bytes (A4, reference src/xet.rs:24-34): Σ size over
    * distinct hashes of the xet chunker's stream.
    */
  def uniqueBytes(chunks: Dataset[ChunkRow]): Long =
    chunks
      .groupBy(col("hash"))
      .agg(first(col("size")).as("size"))
      .agg(coalesce(sum(col("size")), lit(0L)))
      .head()
      .getLong(0)

  /** The flagship `de dedup`-equivalent (reference lifecycle SURVEY §3.1):
    * both ratios — the default chunker's and the xet chunker's — come from
    * ONE scan. Every file is read once and chunked under both configs
    * (`ChunkRelation.chunkConfigs`; LZ4 sizes only for the default config,
    * the only one whose compressed bytes are reported), then a single
    * aggregation keyed on (config, hash) rolls up to at most two collected
    * rows. Files >= 1 GiB get intra-file split parallelism. The job runs in
    * [[graft.Conf.sizedSession]] for the input's expected chunk count; the
    * caller's session is never written.
    */
  def estimate(
      spark: SparkSession,
      paths: Seq[String],
      group: String = "default",
      format: String = "raw",
      params: ChunkerParams = ChunkerParams.Default,
      xetParams: ChunkerParams = ChunkerParams.Xet): EstimationResult =
    estimateRouted(spark, paths, group, format, params, xetParams,
      ChunkRelation.LargeFileThreshold)

  /** `estimate` with the DistributedChunker routing threshold exposed. */
  private[operators] def estimateRouted(
      spark: SparkSession,
      paths: Seq[String],
      group: String,
      format: String,
      params: ChunkerParams,
      xetParams: ChunkerParams,
      largeFileThreshold: Long): EstimationResult = {
    // one batched listing sizes both the shuffle (graft.Conf) and the
    // chunk stage's byte-balanced partitions; the whole job builds and
    // collects in the sized session
    val files = ChunkRelation.sizeFiles(paths)
    val sized = graft.Conf.sizedSession(spark,
      graft.Conf.chunkRows(files.map(_.len).sum, params), graft.Conf.ChunkRowShuffleBytes)
    val byConfig = ChunkRelation
      .chunkConfigs(sized, files, Seq(params, xetParams), Seq(true, false), largeFileThreshold)
      .groupBy(col("config"), col("hash"))
      .agg(
        first(col("size")).as("size"),
        first(col("compressed")).as("compressed"),
        sum(col("size")).as("occ_bytes"))
      .groupBy(col("config"))
      .agg(sum(col("occ_bytes")), sum(col("size")), sum(col("compressed")))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val (total, chunkBytes, compressedBytes) = byConfig.getOrElse(0, (0L, 0L, 0L))
    val xetBytes = byConfig.get(1).fold(0L)(_._2)
    EstimationResult(
      group = group,
      format = format,
      numfiles = paths.size.toLong,
      total_len = total,
      chunk_bytes = chunkBytes,
      compressed_chunk_bytes = compressedBytes,
      dedup_ratio = if (total == 0) 0.0 else chunkBytes.toDouble / total,
      xet_bytes = xetBytes,
      xet_dedup_ratio = if (total == 0) 0.0 else xetBytes.toDouble / total)
  }

  /** Grid estimation (A5, reference de/estimate.py:41-84) as a SINGLE job:
    * tag every file with (group, format), chunk everything once, one shuffle
    * on (group, format, hash), then roll up — the scale-preferred shape over
    * per-cell jobs (SURVEY §2.4-A5).
    * Input: (group, format, path) triples. Xet pass is a second single job.
    * Both jobs run in [[graft.Conf.sizedSession]] for the input's expected
    * chunk count; the caller's session is never written.
    */
  /** @param sideSink optional (name, df) => df persist-and-read-back hook:
    *   when set, the tag table and both tagged chunk relations flow through
    *   it before aggregation, so an external oracle (DuckDB) can recompute
    *   the grid roll-up from the exact rows this run aggregated.
    */
  def estimateGrid(
      spark: SparkSession,
      files: Seq[(String, String, String)],
      params: ChunkerParams = ChunkerParams.Default,
      xetParams: ChunkerParams = ChunkerParams.Xet,
      sideSink: Option[(String, DataFrame) => DataFrame] = None): Seq[EstimationResult] = {
    if (files.isEmpty) return Seq.empty
    // input-sized shuffle (graft.Conf): the (group, format, hash) exchange
    // carries one row per chunk occurrence, so its partition count must
    // track input bytes, not the session default; both cell passes build
    // and collect in the sized session
    val sized = graft.Conf.sizedSession(spark,
      graft.Conf.chunkRows(graft.Conf.totalFileBytes(files.map(_._3)), params),
      graft.Conf.ChunkRowShuffleBytes)
    import sized.implicits._
    val tags = files.zipWithIndex.map { case ((g, f, _), i) => (i.toLong, g, f) }
    val tagDf0 = sized.createDataset(tags).toDF("file_idx", "group", "format")
    val tagDf = sideSink.map(f => f("grid_tags", tagDf0)).getOrElse(tagDf0)
    val numFiles = files
      .groupBy { case (g, f, _) => (g, f) }
      .map { case ((g, f), fs) => ((g, f), fs.size.toLong) }

    def cellStats(paths: Seq[String], p: ChunkerParams, sinkName: String): DataFrame = {
      val tagged0 = ChunkRelation
        .chunkFiles(sized, paths, p)
        .join(broadcast(tagDf), "file_idx")
      // the sink reads back in its own session: the aggregation below must
      // plan in the sized one
      val tagged = sideSink.fold(tagged0)(f => GraftBridge.rebind(f(sinkName, tagged0), sized))
      tagged
        .groupBy(col("group"), col("format"), col("hash"))
        .agg(first(col("size")).as("size"), first(col("compressed")).as("compressed"),
          sum(col("size")).as("occ_bytes"))
        .groupBy(col("group"), col("format"))
        .agg(sum(col("occ_bytes")).as("total"), sum(col("size")).as("chunk_bytes"),
          sum(col("compressed")).as("compressed_chunk_bytes"))
    }

    val paths = files.map(_._3)
    val main = cellStats(paths, params, "grid_chunks_default")
      .as[(String, String, Long, Long, Long)]
      .collect()
      .map { case (g, f, t, cb, cc) => ((g, f), (t, cb, cc)) }
      .toMap
    val xet = cellStats(paths, xetParams, "grid_chunks_xet")
      .as[(String, String, Long, Long, Long)]
      .collect()
      .map { case (g, f, _, cb, _) => ((g, f), cb) }
      .toMap

    // every requested cell appears in the result, zeroed if its files
    // produced no chunks (the reference reports all cells)
    numFiles.keys.toSeq.sorted.map { case (g, f) =>
      val (total, cb, cc) = main.getOrElse((g, f), (0L, 0L, 0L))
      val xb = xet.getOrElse((g, f), 0L)
      EstimationResult(g, f, numFiles((g, f)), total, cb, cc,
        if (total == 0) 0.0 else cb.toDouble / total, xb,
        if (total == 0) 0.0 else xb.toDouble / total)
    }
  }

  /** Byte-ordered occurrence stream annotated with provenance — the
    * canonical input for the strip visualizations (one cell per chunk
    * OCCURRENCE, in file/byte order, with first_seen_in and uniqueness).
    */
  def annotatedOccurrences(chunks: Dataset[ChunkRow]): DataFrame = {
    val perHash = chunks
      .groupBy(col("hash"))
      .agg(min(col("file_idx")).as("first_seen_in"),
        countDistinct(col("file_idx")).as("n_files"))
    chunks
      .join(perHash, "hash")
      .orderBy(col("file_idx"), col("chunk_idx"))
      .select(col("file_idx"), col("first_seen_in"), col("size"),
        (col("n_files") === 1).as("is_unique"))
  }

  /** Provenance segment sequence (O2, reference src/store.rs:138-143): the
    * merged chunk stream in byte order mapped to first_seen_in — drives the
    * heat-map strip. The per-hash side is aggregated (small relative to
    * occurrences) and broadcast when it fits.
    */
  def segments(chunks: Dataset[ChunkRow]): DataFrame = {
    val firstSeen = chunks.groupBy(col("hash")).agg(min(col("file_idx")).as("first_seen_in"))
    chunks
      .join(firstSeen, "hash")
      .orderBy(col("file_idx"), col("chunk_idx"))
      .select(col("file_idx"), col("chunk_idx"), col("hash"), col("size"), col("first_seen_in"))
  }
}
