package graft

import org.apache.spark.sql.{GraftBridge, SparkSession}

import graft.cdc.ChunkerParams

/** Cluster-sizing helpers (SURVEY §4): at 100 TB the hash shuffle behind
  * every estimator aggregation carries ~inputBytes / avgChunk rows, and a
  * partition count tuned for local[32] (32) or Spark's default (200) would
  * put tens of GiB in every reduce partition. These helpers derive the
  * shuffle-partition count FROM the input size, so operators that know
  * their wide stage's rows up front size its exchanges instead of riding
  * session defaults.
  *
  * [[sizedSession]] is the one place that decides an operator's shuffle
  * width: it returns the session to build the wide stage in — the
  * caller's own when its width already covers the sized count, else a
  * clone with only `spark.sql.shuffle.partitions` raised. No operator
  * writes the session it was handed, so concurrent queries on one session
  * cannot race on the setting and nothing is ever restored.
  *
  * AQE still coalesces DOWN from the derived number at runtime (small
  * inputs stay as cheap as before — the width never drops below the
  * session's configured value); what AQE cannot do is split an
  * under-partitioned exchange UP, which is exactly the 100 TB failure mode
  * this closes.
  */
object Conf {

  /** Serialized shuffle bytes per ChunkRow: 5 longs of payload
    * (file_idx, chunk_idx, hash, size, compressed) + UnsafeRow null
    * bitmap/overhead. Measured shuffle-write sizes land near this
    * (ConfSpec pins the constant's order of magnitude against an actual
    * exchange).
    */
  val ChunkRowShuffleBytes: Long = 48L

  /** Serialized shuffle bytes per exploded gram row
    * `(id: long, n_grams: int, gram: long)` — 8 B UnsafeRow null bitmap +
    * 3×8 B field slots (ints still occupy an 8-byte slot). Sizes the gram
    * exchange behind [[graft.operators.Dedupe.containmentPairs]], which
    * carries Σ n_grams rows (≈ one row per corpus word).
    */
  val GramRowShuffleBytes: Long = 32L

  /** Serialized shuffle bytes per LSH band row
    * `(band: int, bucket: long, id: long)` — same 8 B bitmap + 3 slots.
    * Sizes the band exchange behind
    * [[graft.operators.Dedupe.minhashPairs]], which carries
    * n_docs × bands rows.
    */
  val BandRowShuffleBytes: Long = 32L

  /** Serialized shuffle bytes per exploded span-window row
    * `(id: long, pos: long, wlo: long, whi: long)` — 8 B UnsafeRow null
    * bitmap + 4×8 B slots. Sizes the window-hash exchange behind
    * [[graft.operators.Dedupe.duplicateSpans]] /
    * [[graft.operators.Dedupe.cutDuplicateSpans]], which carries
    * Σ windows rows (≈ one row per corpus token). The 128-bit identity
    * mode rides the same row shape (the high half is a real column even
    * when all-zero), so one constant serves both widths.
    */
  val SpanRowShuffleBytes: Long = 40L

  /** Serialized shuffle bytes per hamming pigeonhole-block row
    * `(block: int, key: long, id: long, sig: long)` — 8 B bitmap + 4
    * slots. Sizes the block exchange behind
    * [[graft.operators.Dedupe.hammingPairs]] (n_sigs × blocks rows).
    */
  val BlockRowShuffleBytes: Long = 40L

  /** [[sizeShufflePartitions]] for operators that know their shuffle ROW
    * count directly (gram/band relations) rather than deriving it from
    * input bytes / avg chunk size.
    */
  def sizeShufflePartitionsForRows(
      rows: Long,
      rowBytes: Long,
      minPartitions: Int = 1,
      maxPartitions: Int = 200000): Int =
    sizeShufflePartitions(rows, avgChunkBytes = 1L, rowBytes = rowBytes,
      minPartitions = minPartitions, maxPartitions = maxPartitions)

  /** The session to build a wide stage of `rows` shuffle rows, each
    * `rowBytes` on the wire, in. [[sizeShufflePartitionsForRows]] sizes
    * the stage with the caller's current width as its floor; when that
    * width already covers the sized count (every small input) the
    * caller's own session comes back. Otherwise a `cloneSession()` of it
    * comes back with only `spark.sql.shuffle.partitions` raised: every
    * runtime conf the caller set (AQE, timezone, ANSI, temp views) carries
    * over, and the caller's session is never written.
    *
    * Why the caller's own session when it is wide enough: a clone of a
    * session with its own artifact class loader (Spark's default) gets a
    * copy of that loader, and Spark's codegen cache is keyed on the loader,
    * so a query on a fresh clone compiles every generated class again. A
    * two-aggregate groupBy at local[4] took 0.38–0.46 s on the same session
    * and 0.52–0.64 s on fresh clones, with 6 compiles each time. Clones of
    * [[Harness]] sessions, built without per-session loaders, no longer
    * pay this; clones of a caller's own isolated session still do.
    *
    * Operators re-bind their inputs into the returned session
    * (`GraftBridge.rebind`), run the stage's eager work (cache / count /
    * collect) there, and re-bind what they return to the caller's
    * session, so the caller's later actions plan at the caller's width.
    */
  def sizedSession(spark: SparkSession, rows: Long, rowBytes: Long): SparkSession = {
    val current = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val n = sizeShufflePartitionsForRows(rows, rowBytes, minPartitions = current)
    if (n == current) spark
    else {
      val sized = GraftBridge.cloneSession(spark)
      sized.conf.set("spark.sql.shuffle.partitions", n.toLong)
      sized
    }
  }

  /** Expected average chunk size under `params`: the gear mask fires once
    * per 2^maskBits bytes in expectation, gated below by minLen (bytes
    * skipped after every cut) and above by maxLen (forced cuts).
    */
  def expectedChunkBytes(params: ChunkerParams): Long = {
    val maskBits = java.lang.Long.bitCount(params.mask)
    val expected =
      if (maskBits >= 62) Long.MaxValue
      else params.minLen.toLong + (1L << maskBits)
    math.min(params.maxLen.toLong, expected)
  }

  /** Shuffle partitions for a chunk-relation aggregation over `inputBytes`
    * of raw data: rows ≈ inputBytes / avgChunkBytes, each
    * `rowBytes` on the wire, targeted at `targetPartitionBytes` per reduce
    * partition (64 MiB default — comfortably in-memory with room for the
    * aggregation hash map). Clamped to [minPartitions, maxPartitions].
    *
    * 100 TB worked example (README "cluster sizing"): 100e12 / 64 KiB
    * chunks = 1.6e9 rows × 48 B ≈ 77 GB shuffle → ~1200 partitions, vs 32
    * from a local default (2.4 GB per reduce task — spill city) — and far
    * below the 200k-partition scheduler ceiling.
    */
  def sizeShufflePartitions(
      inputBytes: Long,
      avgChunkBytes: Long,
      targetPartitionBytes: Long = 64L << 20,
      rowBytes: Long = ChunkRowShuffleBytes,
      minPartitions: Int = 1,
      maxPartitions: Int = 200000): Int = {
    require(inputBytes >= 0, s"negative inputBytes: $inputBytes")
    require(avgChunkBytes > 0 && targetPartitionBytes > 0 && rowBytes > 0,
      s"sizes must be positive: avgChunk=$avgChunkBytes " +
        s"target=$targetPartitionBytes row=$rowBytes")
    require(minPartitions >= 1 && maxPartitions >= 1,
      s"bad clamp: [$minPartitions, $maxPartitions]")
    // a floor above the ceiling (e.g. a session already configured past
    // 200k partitions) keeps the floor: never SHRINK a working setting
    val effMax = math.max(maxPartitions, minPartitions)
    val rows = (inputBytes + avgChunkBytes - 1) / avgChunkBytes
    // rows ≤ 2^63 / rowBytes for any physical input (100 TB → 1.6e9 rows);
    // still guard the multiply so a nonsense argument fails loudly
    val shuffleBytes = math.multiplyExact(rows, rowBytes)
    val p = (shuffleBytes + targetPartitionBytes - 1) / targetPartitionBytes
    math.min(effMax.toLong, math.max(minPartitions.toLong, p)).toInt
  }

  /** Shuffle rows of a chunk aggregation over `totalBytes` of raw input
    * chunked under `params` (one row per expected chunk) — the `rows`
    * argument of [[sizedSession]] for the estimators.
    */
  def chunkRows(totalBytes: Long, params: ChunkerParams): Long = {
    val avg = expectedChunkBytes(params)
    (totalBytes + avg - 1) / avg
  }

  /** Length of each of `paths` (in order) through the Hadoop FS API
    * (metadata-only) — the input-size probe for the estimators'
    * [[sizedSession]] and the byte balance of the chunk
    * stage.
    *
    * Batched: one `listStatus` RPC per parent directory instead of one
    * `getFileStatus` per path — at 100k files in a handful of directories
    * that is the difference between seconds and 100k round-trips on an
    * object store. Paths whose parent listing misses them (deleted between
    * listing and lookup, or a bare root) fall back to a direct
    * `getFileStatus`, preserving the unbatched behavior exactly (including
    * FileNotFoundException for genuinely missing inputs).
    */
  def fileLengths(paths: Seq[String]): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val conf = new org.apache.hadoop.conf.Configuration()
    val hPaths = paths.map(new Path(_))
    // qualified-path keys: the listing returns fully-qualified Paths while
    // callers may pass relative/unqualified strings
    val listed = hPaths.groupBy(p => Option(p.getParent)).collect {
      case (Some(parent), group) if group.size > 1 =>
        parent -> parent.getFileSystem(conf).listStatus(parent)
          .map(st => st.getPath -> st.getLen).toMap
    }
    hPaths.map { p =>
      val fs = p.getFileSystem(conf)
      Option(p.getParent).flatMap(listed.get).flatMap(_.get(fs.makeQualified(p)))
        .getOrElse(fs.getFileStatus(p).getLen)
    }
  }

  /** Total length of `paths` ([[fileLengths]] summed). */
  def totalFileBytes(paths: Seq[String]): Long = fileLengths(paths).sum
}
