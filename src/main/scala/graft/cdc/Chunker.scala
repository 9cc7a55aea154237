package graft.cdc

import java.io.InputStream

/** Content-defined-chunking parameters.
  *
  * Defaults mirror the reference estimator's constants (reference:
  * src/store.rs:11-14): boundary mask `0xffff000000000000` (16 mask bits ⇒
  * expected ~64 KiB chunks), min chunk 8 KiB, max 128 KiB. The reference
  * declares MAX_LEN but never enforces it (TODO at src/store.rs:82); we
  * enforce it by default (`enforceMax = true`) — a bounded chunk size is a
  * memory-safety requirement at 100 TB scale. Set `enforceMax = false` for
  * reference-faithful behavior.
  *
  * `tableSeed` selects the gear table, so two chunker configs (e.g. the
  * "xet" production chunker modeled per SURVEY §2.2-C5) produce independent
  * boundary streams.
  */
final case class ChunkerParams(
    mask: Long = 0xffff000000000000L,
    minLen: Int = 8 * 1024,
    maxLen: Int = 128 * 1024,
    enforceMax: Boolean = true,
    tableSeed: Long = 0L,
    readBufSize: Int = 1 << 20) {
  require(minLen > 0 && maxLen >= minLen, s"bad chunker params: min=$minLen max=$maxLen")
  require(readBufSize > 0, s"bad read buffer size: $readBufSize")
}

object ChunkerParams {
  val Default: ChunkerParams = ChunkerParams()

  /** Parameter derivation of the xet-core production chunker (public
    * algorithm: huggingface/xet-core's `deduplication` crate, the
    * `Chunker::new(target_chunk_size)` normalization the reference invokes
    * via `TARGET_CHUNK_SIZE` at src/xet.rs:2,17): the target must be a
    * power of two; the boundary mask is `target − 1` shifted into the top
    * bits of the 64-bit gear hash (so P[boundary] = 1/target per byte);
    * the minimum chunk is target / 8 and the maximum is target × 2, with
    * the maximum ENFORCED by cutting. Everything here follows that
    * published derivation; the one constant that cannot be reproduced
    * offline is the gearhash crate's 256-entry DEFAULT_TABLE, for which a
    * seed-derived table stands in — boundary STATISTICS (chunk-size
    * distribution, dedup ratios) match the real chunker's, boundary
    * POSITIONS are table-dependent (ChunkerSpec pins the tracking bound).
    */
  def xetFromTarget(targetChunkSize: Int): ChunkerParams = {
    require(targetChunkSize >= 1024 && Integer.bitCount(targetChunkSize) == 1,
      s"xet target chunk size must be a power of two >= 1024, got $targetChunkSize")
    val m = (targetChunkSize - 1).toLong
    ChunkerParams(
      mask = m << java.lang.Long.numberOfLeadingZeros(m),
      minLen = targetChunkSize / 8,
      maxLen = targetChunkSize * 2,
      enforceMax = true,
      tableSeed = 0x9E3779B97F4A7C15L,
      // xet-core's read loop hands the chunker 4 MiB blocks (reference:
      // src/xet.rs:8 READ_BUFFER_SIZE); boundaries are buffer-invariant
      // (ChunkerSpec pins that), so this only sizes I/O
      readBufSize = 4 * 1024 * 1024)
  }

  /** The xet-core production chunker at its production target (64 KiB):
    * mask 0xffff000000000000, min 8 KiB, max 128 KiB enforced.
    */
  val Xet: ChunkerParams = xetFromTarget(64 * 1024)
}

/** Gearhash rolling-hash table (public algorithm: gear hashing per the
  * FastCDC paper / gearhash crate design — `h = (h << 1) + table(byte)`,
  * boundary when `(h & mask) == 0`). Table entries are derived
  * deterministically from a seed via splitmix64 so chunking is reproducible
  * across JVMs, partitions, and releases.
  */
object Gear {
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[Long, Array[Long]]()

  def table(seed: Long): Array[Long] =
    cache.computeIfAbsent(seed, s => Array.tabulate(256)(i => splitmix64(s * 0x2545F4914F6CDD1DL + i.toLong)))
}

/** Streaming CDC chunker: splits an `InputStream` into content-defined
  * chunks, reading `bufSize` bytes at a time (reference uses a 1 MiB read
  * buffer, src/store.rs:14). Memory is bounded by `bufSize + maxLen` when
  * `enforceMax` is on, so arbitrarily large files stream without
  * materializing — this is the >2 GB scale path SURVEY §7.4-3 calls for.
  *
  * The gear hash state is reset at each boundary; since the gear window is
  * 64 bytes and minLen ≫ 64, boundary decisions are identical to the
  * carried-state variant, and reset keeps chunking a pure function of the
  * chunk-local byte stream.
  *
  * Closes the stream on exhaustion.
  */
final class ChunkIterator(in: InputStream, params: ChunkerParams, bufSize: Int = 1 << 20)
    extends Iterator[Array[Byte]] {
  private val table = Gear.table(params.tableSeed)
  private val buf = new Array[Byte](bufSize)
  private val pending = scala.collection.mutable.Queue.empty[Array[Byte]]
  private val carry = new java.io.ByteArrayOutputStream(math.min(params.maxLen, 1 << 20))
  private var carryLen = 0
  private var h = 0L
  private var eof = false

  private def fill(): Unit = {
    while (pending.isEmpty && !eof) {
      val n = in.read(buf)
      if (n < 0) {
        eof = true
        in.close()
        if (carryLen > 0) { pending.enqueue(carry.toByteArray); carry.reset(); carryLen = 0 }
      } else {
        // hash-free warm-up per chunk (see Chunker.hashSkip): positions
        // below `skip` can never influence an eligible boundary, so they
        // advance in one bounds computation instead of per-byte hashing;
        // curLen carries the skip progress across buffer refills
        val skip = Chunker.hashSkip(params)
        var i = 0
        var start = 0
        var curLen = carryLen
        while (i < n) {
          if (curLen < skip) {
            val adv = math.min(skip - curLen, n - i)
            curLen += adv
            i += adv
            h = 0L
          }
          var boundaryAt = -1
          while (boundaryAt < 0 && i < n) {
            h = (h << 1) + table(buf(i) & 0xff)
            curLen += 1
            i += 1
            if ((curLen >= params.minLen && (h & params.mask) == 0L) ||
              (params.enforceMax && curLen >= params.maxLen)) boundaryAt = i
          }
          if (boundaryAt >= 0) {
            carry.write(buf, start, boundaryAt - start)
            pending.enqueue(carry.toByteArray)
            carry.reset()
            start = boundaryAt
            curLen = 0
            h = 0L
          }
        }
        carry.write(buf, start, n - start)
        carryLen = curLen
      }
    }
  }

  override def hasNext: Boolean = { fill(); pending.nonEmpty }
  override def next(): Array[Byte] = { fill(); pending.dequeue() }
}

/** One chunk found by [[ChunkScan.stats]]: the config that cut it, its
  * index within that config's chunk stream, xxh64 (seed 42), size, and LZ4
  * size (0 for configs whose compressed size was not requested).
  */
final case class ScannedChunk(config: Int, index: Long, hash: Long, size: Int, compressed: Int)

/** Chunks ONE input stream under several chunker configs from a single
  * read. Bytes land once in a shared window; every config runs
  * `Chunker.nextEnd` over it from its own chunk start, so a file is opened
  * and read once however many configs chunk it. `advance()` reports each
  * chunk as a span of `window` (`offset`, `length`), valid until the next
  * call, so callers hash it in place without copying. Per config, the
  * boundaries equal ChunkIterator's (ChunkerSpec pins that).
  *
  * A chunk that runs into the window's end is deferred and rescanned from
  * its start after the next refill: nextEnd's decision at a position
  * depends only on the bytes since the chunk start, so this is exact. The
  * window holds `bufSize` fresh bytes plus the longest pending chunk, i.e.
  * `bufSize + maxLen` when every config enforces maxLen; it grows (by
  * doubling) only for an `enforceMax = false` chunk longer than that.
  *
  * Closes the stream on exhaustion.
  */
final class ChunkScan(in: InputStream, configs: IndexedSeq[ChunkerParams], bufSize: Int) {
  require(configs.nonEmpty, "ChunkScan needs at least one chunker config")
  require(bufSize > 0, s"bad read buffer size: $bufSize")
  private val k = configs.size
  private val tables = configs.map(p => Gear.table(p.tableSeed)).toArray
  private val skips = configs.map(Chunker.hashSkip).toArray
  private val starts = new Array[Int](k) // per-config chunk start in the window
  private val counts = new Array[Long](k)
  private var win = new Array[Byte](bufSize + configs.map(_.maxLen).max)
  private var filled = 0
  private var eof = false
  private var cur = k // config being scanned; k = all wait for a refill
  private var spanOffset = 0
  private var spanLength = 0
  private var spanIndex = 0L

  def window: Array[Byte] = win
  def config: Int = cur
  def offset: Int = spanOffset
  def length: Int = spanLength
  def index: Long = spanIndex

  /** Moves to the next chunk of some config; false once every config has
    * consumed the whole stream.
    */
  def advance(): Boolean = {
    var found = false
    while (!found && !(cur == k && eof)) {
      if (cur == k) refill()
      else {
        val s = starts(cur)
        val end =
          if (s < filled) Chunker.nextEnd(win, s, filled, tables(cur), configs(cur), skips(cur))
          else s
        if (end > s && (end < filled || eof)) {
          spanOffset = s
          spanLength = end - s
          spanIndex = counts(cur)
          counts(cur) += 1
          starts(cur) = end
          found = true
        } else cur += 1
      }
    }
    found
  }

  private def refill(): Unit = {
    val keep = starts.min
    if (keep > 0) {
      System.arraycopy(win, keep, win, 0, filled - keep)
      filled -= keep
      var c = 0
      while (c < k) { starts(c) -= keep; c += 1 }
    }
    if (win.length - filled < bufSize)
      win = java.util.Arrays.copyOf(win, math.max(2 * win.length, filled + bufSize))
    while (!eof && filled < win.length) {
      val n = in.read(win, filled, win.length - filled)
      if (n < 0) { eof = true; in.close() } else filled += n
    }
    cur = 0
  }

  /** The scan as [[ScannedChunk]] records, hashed in place on the window;
    * the LZ4 size is computed only for configs with `lz4(config)`.
    */
  def stats(lz4: IndexedSeq[Boolean]): Iterator[ScannedChunk] = new Iterator[ScannedChunk] {
    private var ready = false
    override def hasNext: Boolean = { if (!ready) ready = advance(); ready }
    override def next(): ScannedChunk = {
      if (!hasNext) throw new NoSuchElementException("ChunkScan exhausted")
      ready = false
      ScannedChunk(cur, spanIndex, XXH64.hash(win, spanOffset, spanLength, XXH64.DefaultSeed),
        spanLength, if (lz4(cur)) Lz4Len(win, spanOffset, spanLength) else 0)
    }
  }
}

object Chunker {
  /** Chunk an in-memory byte array (kernel-level API, used by tests and
    * small-payload callers; the DataFrame layer streams via ChunkScan).
    */
  def chunk(bytes: Array[Byte], params: ChunkerParams = ChunkerParams.Default): Vector[Array[Byte]] =
    new ChunkIterator(new java.io.ByteArrayInputStream(bytes), params).toVector

  /** Hash-free prefix per chunk: gear's 64-bit register forgets a byte
    * after 64 shifts, so nothing before (minLen − 64) can influence an
    * ELIGIBLE boundary test (the first one fires at curLen == minLen with
    * exactly the last 64 bytes in window). Skipping those table lookups
    * is boundary-identical — and is the same skip xet-core's production
    * chunker performs (ChunkerSpec's golden/cross-path tests pin it).
    */
  @inline private[cdc] def hashSkip(params: ChunkerParams): Int =
    math.max(0, params.minLen - 64)

  /** End (exclusive) of the chunk starting at `start`: first eligible gear
    * boundary or maxLen cut, else `n`. ONE scan loop shared by chunkStats
    * and boundaries so the kernels cannot diverge. The skip start is
    * computed as a distance (`n - start > skip`), not `start + skip`,
    * which would wrap negative within `skip` bytes of Int.MaxValue.
    * ChunkScan calls it too, over its shared read window.
    */
  private[cdc] def nextEnd(
      bytes: Array[Byte], start: Int, n: Int,
      table: Array[Long], params: ChunkerParams, skip: Int): Int = {
    var h = 0L
    var i = if (n - start > skip) start + skip else n
    var end = -1
    while (end < 0 && i < n) {
      h = (h << 1) + table(bytes(i) & 0xff)
      i += 1
      val curLen = i - start
      if ((curLen >= params.minLen && (h & params.mask) == 0L) ||
        (params.enforceMax && curLen >= params.maxLen)) end = i
    }
    if (end < 0) n else end
  }

  /** Per-chunk (hash, size, compressedSize) over an in-memory payload in a
    * SINGLE pass with zero chunk copies: boundary scan + offset-based
    * xxh64/lz4 directly on the source array. This is the hot kernel for
    * in-table payloads (cdc_chunks generator, chunkColumn) where the
    * streaming ChunkIterator's per-chunk ByteArrayOutputStream + copy would
    * dominate at small chunk sizes (maskBits=5 ⇒ ~32 B chunks).
    * Boundary semantics are identical to ChunkIterator (gear state resets
    * at each boundary; ChunkerSpec cross-checks the two paths).
    */
  def chunkStats(bytes: Array[Byte], params: ChunkerParams): Iterator[(Long, Int, Int)] = {
    if (bytes == null || bytes.isEmpty) Iterator.empty
    else new Iterator[(Long, Int, Int)] {
      private val table = Gear.table(params.tableSeed)
      private val skip = hashSkip(params)
      private var start = 0
      override def hasNext: Boolean = start < bytes.length
      override def next(): (Long, Int, Int) = {
        val end = nextEnd(bytes, start, bytes.length, table, params, skip)
        val len = end - start
        val out = (XXH64.hash(bytes, start, len, XXH64.DefaultSeed), len,
          Lz4Len(bytes, start, len))
        start = end
        out
      }
    }
  }

  /** Boundary offsets+lengths without copying chunk payloads. */
  def boundaries(bytes: Array[Byte], params: ChunkerParams = ChunkerParams.Default): Vector[(Int, Int)] = {
    val table = Gear.table(params.tableSeed)
    val skip = hashSkip(params)
    val out = Vector.newBuilder[(Int, Int)]
    var start = 0
    val n = bytes.length
    while (start < n) {
      val end = nextEnd(bytes, start, n, table, params, skip)
      out += ((start, end - start))
      start = end
    }
    out.result()
  }
}
