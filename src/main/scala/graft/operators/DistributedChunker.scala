package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.cdc.{ChunkerParams, Gear, Lz4Len, XXH64}

/** Exact intra-file-parallel CDC chunking for huge files — the piece the
  * reference cannot do at all (its rayon parallelism is one task per whole
  * file, src/store.rs:103-112) and the per-file `ChunkScan` path only
  * scales across files.
  *
  * Correctness argument (why a split scan is EXACT, not approximate):
  * a gear hash at position p depends only on the previous 64 bytes
  * (`h = h<<1 + g(b)` discards bits after 64 shifts). A "candidate cut" is
  * any p with `(h & mask) == 0` under a *continuous* (never-reset) scan —
  * a purely content-local property computable inside any split given 64
  * bytes of west-side overlap. The sequential chunker's boundaries are
  * exactly: walk candidates left to right, accept one if it is ≥ minLen
  * after the last accepted/forced cut, forcing a cut every maxLen bytes
  * otherwise. (The sequential scan resets its hash at each boundary, but a
  * reset can only change candidacy for the 64 bytes that follow a cut, and
  * minLen ≥ 64 gates all of those out — so continuous-scan candidates
  * resolve to identical boundaries.) Candidates are sparse (~1 per
  * 2^maskBits bytes), so resolution is a trivial driver-side walk.
  *
  * Phases:
  *   1. distributed candidate scan: one task per `splitBytes` range,
  *      narrow, no shuffle — this is where the 100 TB of byte-scanning
  *      parallelism lives;
  *   2. driver-side boundary resolution over collected sparse candidates
  *      (~16k per GiB at the default 64 KiB mask: KBs of longs);
  *   3. distributed chunk hashing: resolved boundaries bin-packed into
  *      ~`hashBatchBytes` work units, each task range-reads its span and
  *      emits hash+lz4 rows.
  */
object DistributedChunker {

  /** Driver-memory guardrail for phase 2: candidates are ~8 bytes each and
    * E[count] = fileLen / 2^maskBits, so the default cap (1e8 ≈ 800 MB of
    * longs) is far beyond any sane configuration — at the default 64 KiB
    * mask it corresponds to a ~6 PB single file. Hitting it means the mask
    * is far too fine for the file size; fail with the fix spelled out
    * rather than OOMing the driver mid-collect.
    */
  val MaxCollectedCandidates: Long = 100000000L

  def chunkLargeFile(
      spark: SparkSession,
      path: String,
      fileIdx: Long = 0L,
      params: ChunkerParams = ChunkerParams.Default,
      splitBytes: Long = 128L << 20,
      hashBatchBytes: Long = 64L << 20): Dataset[ChunkRow] = {
    import spark.implicits._
    require(params.minLen >= 64, "exactness requires minLen >= gear window (64)")
    val fileLen = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(new org.apache.hadoop.conf.Configuration()).getFileStatus(p).getLen
    }
    val maskBits = java.lang.Long.bitCount(params.mask)
    val expectedCandidates = fileLen >> math.min(62, maskBits)
    require(expectedCandidates <= MaxCollectedCandidates,
      s"DistributedChunker would collect ~$expectedCandidates boundary " +
        s"candidates for $path ($fileLen bytes at $maskBits mask bits) — " +
        s"beyond the $MaxCollectedCandidates driver cap. Use a coarser mask " +
        "(fewer candidates per byte) or split the file upstream.")

    // --- phase 1: candidate cut positions, parallel over splits ---
    val splits = (0L until fileLen by splitBytes).map(s => (s, math.min(s + splitBytes, fileLen)))
    val candidates = spark
      .createDataset(splits)
      .repartition(math.max(1, math.min(splits.size, spark.sparkContext.defaultParallelism)))
      .flatMap { case (start, end) =>
        scanCandidates(path, start, end, params.mask, params.tableSeed)
      }
      .collect()
      .sorted
    require(candidates.length <= MaxCollectedCandidates,
      s"collected ${candidates.length} candidates for $path — data is far " +
        "denser in boundaries than the mask predicts; use a coarser mask")

    // --- phase 2: resolve boundaries (sequential walk over sparse longs) ---
    val bounds = resolveBoundaries(candidates, fileLen, params)

    // --- phase 3: hash resolved chunks, parallel over bin-packed batches ---
    val batches = binPack(bounds, hashBatchBytes)
    spark
      .createDataset(batches)
      .repartition(math.max(1, math.min(batches.size, spark.sparkContext.defaultParallelism)))
      .flatMap { batch =>
        hashRanges(path, fileIdx, batch)
      }
  }

  /** Candidate positions p (cut AFTER byte p-1, i.e. chunk boundary offset
    * p) where the continuous gear hash matches the mask. Reads
    * [start-64, end) so the first positions have full window context.
    */
  private[operators] def scanCandidates(
      path: String,
      start: Long,
      end: Long,
      mask: Long,
      tableSeed: Long): Iterator[Long] = {
    val table = Gear.table(tableSeed)
    val warm = math.min(64L, start)
    val readFrom = start - warm
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = fs.open(p)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      in.seek(readFrom)
      val bufSize = 1 << 20
      val buf = new Array[Byte](bufSize)
      var h = 0L
      var pos = readFrom
      while (pos < end) {
        val want = math.min(bufSize.toLong, end - pos).toInt
        val n = in.read(buf, 0, want)
        if (n < 0) pos = end
        else {
          var i = 0
          while (i < n) {
            h = (h << 1) + table(buf(i) & 0xff)
            val p1 = pos + i + 1 // boundary offset = position after this byte
            if (p1 > start && p1 <= end && (h & mask) == 0L) out += p1
            i += 1
          }
          pos += n
        }
      }
    } finally in.close()
    out.iterator
  }

  /** Walk sparse candidates, applying minLen gating + forced maxLen cuts —
    * the exact sequential-chunker semantics.
    */
  private[operators] def resolveBoundaries(
      candidates: Array[Long],
      fileLen: Long,
      params: ChunkerParams): Vector[(Long, Long)] = {
    val out = Vector.newBuilder[(Long, Long)]
    var last = 0L
    var ci = 0
    while (last < fileLen) {
      // skip candidates at or before the minLen horizon
      while (ci < candidates.length && candidates(ci) < last + params.minLen) ci += 1
      val nextCandidate =
        if (ci < candidates.length) candidates(ci) else Long.MaxValue
      val forced =
        if (params.enforceMax) last + params.maxLen else Long.MaxValue
      val cut = math.min(math.min(nextCandidate, forced), fileLen)
      out += ((last, cut - last))
      last = cut
    }
    out.result()
  }

  /** Group contiguous (offset,len) chunk ranges into batches of roughly
    * `targetBytes` so phase 3 does large sequential reads.
    */
  private[operators] def binPack(
      bounds: Vector[(Long, Long)],
      targetBytes: Long): Seq[(Long, Seq[(Long, Long)])] = {
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Long, Long)])]
    var cur = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var curBytes = 0L
    var firstIdx = 0L
    var idx = 0L
    bounds.foreach { b =>
      if (curBytes >= targetBytes && cur.nonEmpty) {
        batches += ((firstIdx, cur.toSeq))
        cur = scala.collection.mutable.ArrayBuffer.empty
        curBytes = 0L
        firstIdx = idx
      }
      cur += b
      curBytes += b._2
      idx += 1
    }
    if (cur.nonEmpty) batches += ((firstIdx, cur.toSeq))
    batches.toSeq
  }

  private def hashRanges(
      path: String,
      fileIdx: Long,
      batch: (Long, Seq[(Long, Long)])): Iterator[ChunkRow] = {
    val (firstChunkIdx, ranges) = batch
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = fs.open(p)
    try {
      ranges.iterator.zipWithIndex.map { case ((off, len), i) =>
        require(len <= Int.MaxValue.toLong,
          s"chunk of $len bytes exceeds 2 GiB — run with enforceMax=true " +
            "(candidate-free spans can otherwise produce unbounded chunks)")
        val bytes = new Array[Byte](len.toInt)
        in.seek(off)
        in.readFully(bytes)
        ChunkRow(fileIdx, firstChunkIdx + i, XXH64.hash(bytes, XXH64.DefaultSeed),
          len, Lz4Len(bytes).toLong)
      }.toVector.iterator
    } finally in.close()
  }
}
