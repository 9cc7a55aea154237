package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.cdc.{ChunkerParams, XXH64}
import graft.operators.{ChunkRelation, Estimator}
import graft.synthetic.{DType, DataGenerator, EditPoints}

/** Logical-CDC mode reproduces the DIRECTION of the reference's
  * inserted-rows study (notebooks/parquet-cdc.md §5: CDC-aware parquet
  * 95% → 53% dedup ratio vs vanilla): chunking the uncompressed page
  * streams recovers most of the cross-file dedup that compressed page
  * framing destroys after a mid-file insert.
  */
class LogicalCdcSpec extends AnyFunSuite with SparkSpec {

  private val params =
    ChunkerParams(mask = -1L << (64 - 9), minLen = 64, maxLen = 16 * 1024)

  private def ratio(chunks: org.apache.spark.sql.Dataset[graft.operators.ChunkRow]): Double = {
    val (total, unique, _) = Estimator.stats(chunks)
    unique.toDouble / total
  }

  test("inserted rows: logical dedup ratio materially below physical") {
    val gen = new DataGenerator(
      DType.parseSchema("""{"a": "int", "b": "str", "c": ["int"]}"""), 7L)
    val tables = gen.generateSyntheticTables(spark, 20000L,
      EditPoints.linspace(4), 200, assertCounts = false)
    val dir = java.nio.file.Files.createTempDirectory("graft-logicalcdc")
    val fmt = TableFormat.ParquetFormat("gzip", useDictionary = false)
    val files = Seq("original", "inserted")
      .flatMap(v => fmt.write(tables(v), dir, "cdc", v))

    val physical = ratio(ChunkRelation.chunkFiles(spark, files, params))
    val logical = ratio(LogicalCdc.chunkColumns(spark, files, params))

    // physical: compressed page framing shifts after each insert point —
    // near-zero cross-file dedup. logical: the value streams re-sync at the
    // next content-defined boundary — close to the ~0.5 two-copies floor.
    assert(physical > 0.8, s"physical=$physical expected near 1")
    assert(logical < physical - 0.2,
      s"logical=$logical not materially below physical=$physical")
    assert(logical < 0.75, s"logical=$logical expected near the 0.5 floor")
  }

  test("logical chunk stream is deterministic and reassembles column bytes") {
    val gen = new DataGenerator(DType.parseSchema("""{"a": "int", "b": "str"}"""), 9L)
    val df = gen.generate(spark, 5000L)
    val dir = java.nio.file.Files.createTempDirectory("graft-logicalcdc2")
    val fmt = TableFormat.ParquetFormat("gzip", useDictionary = false)
    val files = fmt.write(df, dir, "one", "t")

    val a = LogicalCdc.chunkColumns(spark, files, params).collect().toSeq
      .sortBy(r => (r.file_idx, r.chunk_idx))
    val b = LogicalCdc.chunkColumns(spark, files, params).collect().toSeq
      .sortBy(r => (r.file_idx, r.chunk_idx))
    assert(a == b)
    assert(a.nonEmpty)
    // golden digest of the sorted (file_idx, chunk_idx, hash, size,
    // compressed) rows for this fixed fixture: any change to the page
    // stream, the chunk kernel or the row encoding trips it
    val rows = java.nio.ByteBuffer.allocate(a.size * 5 * 8)
    a.foreach(r => rows.putLong(r.file_idx).putLong(r.chunk_idx).putLong(r.hash)
      .putLong(r.size).putLong(r.compressed))
    assert(a.size == 678)
    assert(XXH64.hash(rows.array(), XXH64.DefaultSeed) == -3288596116903934215L)
    // uncompressed logical stream must be at least as large as the
    // compressed physical file (snappy) — sanity that we read real payloads
    val logicalBytes = a.map(_.size).sum
    val fileBytes = new java.io.File(files.head).length()
    assert(logicalBytes > fileBytes / 2, s"logical=$logicalBytes file=$fileBytes")
  }
}
