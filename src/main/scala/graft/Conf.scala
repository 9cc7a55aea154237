package graft

import org.apache.spark.sql.SparkSession

import graft.cdc.ChunkerParams

/** Cluster-sizing helpers (SURVEY §4): at 100 TB the hash shuffle behind
  * every estimator aggregation carries ~inputBytes / avgChunk rows, and a
  * partition count tuned for local[32] (32) or Spark's default (200) would
  * put tens of GiB in every reduce partition. These helpers derive the
  * shuffle-partition count FROM the input size, so operators that know
  * their bytes up front (the grid estimator, the CLI dedup lifecycle) size
  * their own exchanges instead of riding session defaults.
  *
  * AQE still coalesces DOWN from the derived number at runtime (small
  * inputs stay as cheap as before — the helpers never return less than the
  * session's configured floor); what AQE cannot do is split an
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

  /** Session-apply twin of [[sizeShufflePartitionsForRows]] — same
    * grow-never-shrink + restore contract (and the same single-threaded-
    * per-session caveat) as [[applyChunkShufflePartitions]]. Callers wrap
    * their actions in try/finally and restore the returned previous value.
    */
  def applyRowShufflePartitions(
      spark: SparkSession,
      rows: Long,
      rowBytes: Long): Int = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val n = sizeShufflePartitionsForRows(rows, rowBytes, minPartitions = prev)
    if (n != prev) spark.conf.set("spark.sql.shuffle.partitions", n)
    prev
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

  /** Apply [[sizeShufflePartitions]] to the session for a chunk-estimation
    * job over `totalBytes`, never shrinking below the session's current
    * setting (small inputs keep their configured layout; big inputs grow).
    * Returns the previous setting so self-contained operators (whose
    * actions all run inside their own scope, like `Estimator.estimateGrid`)
    * can restore it — lazy callers must leave it in place until their
    * actions have run.
    *
    * NOT thread-safe across queries: `spark.sql.shuffle.partitions` is
    * session-global, so two concurrent estimate/estimateGrid calls on one
    * SparkSession race on set/restore and can leave either value behind.
    * Run concurrent estimations on `spark.newSession()` clones (isolated
    * conf, shared SparkContext) — the CLI and all in-repo callers are
    * single-threaded per session.
    */
  def applyChunkShufflePartitions(
      spark: SparkSession,
      totalBytes: Long,
      params: ChunkerParams): Int = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val n = sizeShufflePartitions(totalBytes, expectedChunkBytes(params),
      minPartitions = prev)
    if (n != prev) spark.conf.set("spark.sql.shuffle.partitions", n)
    prev
  }

  /** Byte-limit override from an environment knob — the shared parse/
    * validate path behind the broadcast→fallback forcing knobs
    * (`SPARK_GRAFT_SPANS_BCAST_LIMIT`, `SPARK_GRAFT_LINES_BCAST_LIMIT`):
    * unset → `default`; `0` (or `-1`, Spark's own never-broadcast
    * convention, accepted as an alias) → the operators' explicit
    * force-fallback sentinel (a zero limit always takes the shuffle
    * build, even when the measured index is empty); anything
    * non-numeric or negative below -1 fails loudly instead of silently
    * riding the default.
    */
  def envByteLimit(name: String, default: Long): Long =
    parseByteLimit(name, sys.env.get(name), default)

  /** Env-free core of [[envByteLimit]] (spec-testable: `sys.env` can't be
    * injected under test).
    */
  private[graft] def parseByteLimit(
      name: String,
      raw: Option[String],
      default: Long): Long =
    raw match {
      case None => default
      case Some(s) =>
        val v =
          try s.trim.toLong
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"$name must be a byte/row count, got '$s'")
          }
        // Spark's own broadcast knobs spell "never broadcast" as -1
        // (spark.sql.autoBroadcastJoinThreshold=-1); accept it as an
        // alias for this repo's 0 force-shuffle sentinel so operators
        // used to Spark semantics get the intended fallback instead of
        // a hard failure.
        if (v == -1L) 0L
        else {
          require(v >= 0,
            s"$name must be >= 0 (0 forces the shuffle build; -1 is " +
              s"accepted as an alias for 0), got $v")
          v
        }
    }

  /** Length of each of `paths` (in order) through the Hadoop FS API
    * (metadata-only) — the input-size probe for
    * [[applyChunkShufflePartitions]] and the byte balance of the chunk
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
