package graft.operators

import graft.SparkSpec
import graft.cdc.ChunkerParams
import java.nio.file.Files

class DistributedChunkerSpec extends SparkSpec {

  private def writeTemp(bytes: Array[Byte]): String = {
    val p = Files.createTempDirectory("graft-dist").resolve("f.bin")
    Files.write(p, bytes)
    p.toString
  }

  /** `path` as file 0 of a listing. */
  private def sized(path: String): SizedFile = SizedFile(0L, path, Files.size(java.nio.file.Paths.get(path)))

  private def randomBytes(n: Int, seed: Long): Array[Byte] = {
    val r = new java.util.Random(seed)
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }

  private def rows(ds: org.apache.spark.sql.Dataset[ChunkRow]) =
    ds.collect().sortBy(_.chunk_idx).map(r => (r.chunk_idx, r.hash, r.size, r.compressed)).toSeq

  test("split-parallel chunking is byte-identical to the sequential scan") {
    val data = randomBytes(32 << 20, 1L)
    val path = writeTemp(data)
    val sequential = rows(ChunkRelation.chunkFiles(spark, Seq(path)))
    val parallel = rows(DistributedChunker.chunkLargeFile(
      spark, sized(path), splitBytes = 1L << 20, hashBatchBytes = 4L << 20))
    assert(parallel.size == sequential.size, s"${parallel.size} vs ${sequential.size} chunks")
    assert(parallel == sequential)
  }

  test("exact also when splits land mid-chunk (odd split size)") {
    val data = randomBytes(8 << 20, 2L)
    val path = writeTemp(data)
    val sequential = rows(ChunkRelation.chunkFiles(spark, Seq(path)))
    val parallel = rows(DistributedChunker.chunkLargeFile(
      spark, sized(path), splitBytes = 777777L, hashBatchBytes = 1L << 20))
    assert(parallel == sequential)
  }

  test("forced maxLen cuts (incompressible candidate desert: all zeros)") {
    val data = new Array[Byte](2 << 20) // zeros: few/no mask hits
    val path = writeTemp(data)
    val sequential = rows(ChunkRelation.chunkFiles(spark, Seq(path)))
    val parallel = rows(DistributedChunker.chunkLargeFile(
      spark, sized(path), splitBytes = 300000L))
    assert(parallel == sequential)
    assert(parallel.map(_._3).sum == data.length.toLong)
  }

  test("chunkFilesAuto routes large files through the split path, same rows") {
    val big = writeTemp(randomBytes(4 << 20, 3L))
    val small = writeTemp(randomBytes(256 << 10, 4L))
    val auto = ChunkRelation
      .chunkFilesAuto(spark, Seq(small, big), largeFileThreshold = 1L << 20)
      .collect()
      .sortBy(r => (r.file_idx, r.chunk_idx))
      .map(r => (r.file_idx, r.chunk_idx, r.hash, r.size))
      .toSeq
    val plain = ChunkRelation
      .chunkFiles(spark, Seq(small, big))
      .collect()
      .sortBy(r => (r.file_idx, r.chunk_idx))
      .map(r => (r.file_idx, r.chunk_idx, r.hash, r.size))
      .toSeq
    assert(auto == plain)
  }

  test("resolution semantics: minLen gating and forced cuts") {
    val p = ChunkerParams(minLen = 100, maxLen = 250, enforceMax = true)
    // candidates: 50 (gated), 120, 150 (gated after 120), 600 (forced at 370 first)
    val bounds = DistributedChunker.resolveBoundaries(
      Array(50L, 120L, 150L, 600L), 700L, p)
    assert(bounds == Vector((0L, 120L), (120L, 250L), (370L, 230L), (600L, 100L)))
  }
}
