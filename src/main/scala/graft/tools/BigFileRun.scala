package graft.tools

import java.nio.file.{Files, Paths}

import graft.Harness
import graft.Harness.num
import graft.operators.{ChunkRelation, Estimator}

/** End-to-end proof of the >2 GiB SINGLE-FILE chunker path (VERDICT r9/r10
  * carry-over): the `DistributedChunker` three-phase design claims exact
  * boundaries, bounded driver memory, and no hidden 32-bit offset anywhere
  * — claims the earlier 1.17 GiB×2 validation never tested, because no
  * offset inside one file ever crossed 2^31.
  *
  * This main synthesizes ONE ~2.5 GiB file whose second half repeats its
  * first half byte-for-byte (planted dedup ratio 0.5: the chunker
  * re-synchronizes within one chunk of the half seam, so unique bytes ≈
  * half + ≤2 seam chunks), then
  *
  *   1. chunks it through `ChunkRelation.chunkFilesAuto` — the 2.5 GiB
  *      size routes it through the split-parallel DistributedChunker;
  *   2. runs the `Estimator.stats` fold and asserts the dedup ratio is
  *      0.5 within 1%;
  *   3. re-chunks through the sequential one-task `chunkFiles` path and
  *      asserts the occurrence relations are IDENTICAL (the
  *      DistributedChunkerSpec equivalence, now at real >2 GiB size);
  *   4. asserts post-GC driver heap stays bounded (the phase-2 candidate
  *      collect is ~16k longs/GiB — megabytes, not gigabytes).
  *
  * Reference analogue: the 1 MiB-buffer streaming scan (ref:
  * src/store.rs:14,65-101) — which is sequential per file; intra-file
  * parallelism at this size is the Spark-native extension.
  *
  * Usage: `sbt "runMain graft.tools.BigFileRun [dir] [totalMiB]"`.
  * The synthesized file is reused if already present at the right size.
  */
object BigFileRun {

  /** Stafford mix13 finalizer — block seeds must be STRONGLY mixed: a
    * linear seed schedule like `GOLDEN_GAMMA * i` makes every block the
    * same SplittableRandom stream shifted by i values (the constructor
    * adds GOLDEN_GAMMA per draw), i.e. a file whose blocks are 8-byte
    * shifts of each other — which CDC then correctly deduplicates,
    * collapsing the intended 0.5 ratio to ~0.01. (Caught live by this
    * run's own ratio assert.)
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic pseudo-random 1 MiB block `i` — SplittableRandom seeded
    * by block index, so synthesis is O(1) memory and reproducible.
    */
  private def fillBlock(i: Long, buf: Array[Byte]): Unit = {
    val rng = new java.util.SplittableRandom(mix64(i))
    var off = 0
    while (off < buf.length) {
      var v = rng.nextLong()
      var k = 0
      while (k < 8 && off < buf.length) {
        buf(off) = (v & 0xFF).toByte
        v >>>= 8
        off += 1
        k += 1
      }
    }
  }

  def synthesize(path: String, totalBytes: Long): Unit = {
    val blockBytes = 1 << 20
    require(totalBytes % (2L * blockBytes) == 0,
      "totalBytes must be an even number of 1 MiB blocks")
    val halfBlocks = totalBytes / 2 / blockBytes
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path), 1 << 20)
    val buf = new Array[Byte](blockBytes)
    try {
      var rep = 0
      while (rep < 2) { // second half repeats the first byte-for-byte
        var i = 0L
        while (i < halfBlocks) {
          fillBlock(i, buf)
          out.write(buf)
          i += 1
        }
        rep += 1
      }
    } finally out.close()
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_bigfile")
    val totalMiB = args.lift(1).map(_.toLong).getOrElse(2560L) // 2.5 GiB
    val totalBytes = totalMiB << 20
    require(totalBytes > (2L << 30) + (256L << 20),
      s"a $totalMiB MiB file never crosses the 2 GiB in-file offset " +
        "boundary — the whole point of this run; use >= 2304 MiB")
    Files.createDirectories(Paths.get(dir))
    val path = s"$dir/big_${totalMiB}m.bin"

    val have = if (Files.exists(Paths.get(path))) Files.size(Paths.get(path)) else -1L
    if (have == totalBytes) println(s"[bigfile] reusing $path")
    else {
      println(s"[bigfile] synthesizing $path ($totalMiB MiB, half-repeat layout)")
      val t0 = System.nanoTime()
      synthesize(path, totalBytes)
      println(f"[bigfile] synthesized in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    val spark = Harness.session("graft-bigfile")

    // --- 1+2: auto path (routes through DistributedChunker at this size) +
    // estimator fold ---
    val t1 = System.nanoTime()
    val auto = ChunkRelation.chunkFilesAuto(spark, Seq(path)).cache()
    val (total, unique, uniqueLz4) = Estimator.stats(auto)
    val nChunks = auto.count()
    val autoSecs = (System.nanoTime() - t1) / 1e9
    val ratio = unique.toDouble / total
    println(f"[bigfile] auto path: $nChunks chunks, total=$total unique=$unique " +
      f"(lz4 $uniqueLz4) ratio=$ratio%.4f in $autoSecs%.1f s " +
      f"(${total / autoSecs / (1 << 20)}%.0f MiB/s chunk+hash+lz4+estimate)")
    require(total == totalBytes,
      s"chunk sizes must sum to the file length: $total vs $totalBytes")
    require(math.abs(ratio - 0.5) < 0.01,
      f"planted half-repeat must estimate at ratio 0.5 +- 0.01, got $ratio%.4f")

    // --- 3: sequential equivalence at full size (one streaming task) ---
    val t2 = System.nanoTime()
    val seq = ChunkRelation.chunkFiles(spark, Seq(path)).cache()
    val nSeq = seq.count()
    val seqSecs = (System.nanoTime() - t2) / 1e9
    val diff = auto.toDF().exceptAll(seq.toDF()).count() +
      seq.toDF().exceptAll(auto.toDF()).count()
    println(f"[bigfile] sequential path: $nSeq chunks in $seqSecs%.1f s; " +
      s"row diff vs auto = $diff")
    require(nSeq == nChunks && diff == 0,
      s"split-parallel and sequential chunkings must be identical " +
        s"(auto=$nChunks seq=$nSeq diff=$diff)")
    auto.unpersist()
    seq.unpersist()

    // --- 4: driver memory bound ---
    val usedMb = Harness.gcUsedBytes() / (1024 * 1024)
    val maxMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    println(s"[bigfile] heap after run: $usedMb MiB used of $maxMb MiB max")
    require(usedMb < 2048,
      s"driver heap must stay bounded (candidate collect is ~16k longs/GiB), " +
        s"got $usedMb MiB")

    println(s"""{"bigfile_mib":$totalMiB,"chunks":$nChunks,"ratio":${num(ratio, 4)},""" +
      s""""auto_secs":${num(autoSecs, 1)},"seq_secs":${num(seqSecs, 1)},""" +
      s""""mibps_auto":${num(total / autoSecs / (1 << 20), 1)},"heap_used_mb":$usedMb}""")
    spark.stop()
  }
}
