package graft.operators

import graft.SparkSpec
import graft.cdc.{Chunker, ChunkerParams, ChunkerSpec, XXH64}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

class EstimatorSpec extends SparkSpec {

  private def writeTemp(name: String, bytes: Array[Byte]): Path = {
    val dir = Files.createTempDirectory("graft-est")
    val p = dir.resolve(name)
    Files.write(p, bytes)
    p
  }

  private def randomBytes(n: Int, seed: Long): Array[Byte] = {
    val r = new java.util.Random(seed)
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }

  test("XXH64 matches Spark's built-in xxhash64 (seed 42)") {
    import spark.implicits._
    val payloads = Seq(
      Array.emptyByteArray,
      "hello".getBytes("UTF-8"),
      randomBytes(7, 1),
      randomBytes(32, 2),
      randomBytes(1000, 3))
    val fromSpark = payloads
      .toDF("b")
      .select(xxhash64(col("b")))
      .collect()
      .map(_.getLong(0))
    val ours = payloads.map(XXH64.hash(_, 42L))
    assert(fromSpark.toSeq == ours)
  }

  test("two identical files dedup to ~half the total bytes") {
    val bytes = randomBytes(2 << 20, 11L)
    val f1 = writeTemp("a.bin", bytes)
    val f2 = writeTemp("b.bin", bytes)
    val r = Estimator.estimate(spark, Seq(f1.toString, f2.toString))
    assert(r.numfiles == 2)
    assert(r.total_len == bytes.length.toLong * 2)
    assert(r.chunk_bytes == bytes.length.toLong, "identical files must share every chunk")
    assert(math.abs(r.dedup_ratio - 0.5) < 1e-9)
    assert(r.xet_bytes == bytes.length.toLong)
  }

  test("merge semantics: first_seen_in = min file idx, seen_in ascending per-file set") {
    val shared = randomBytes(1 << 20, 12L)
    val only2 = randomBytes(1 << 20, 13L)
    val f1 = writeTemp("a.bin", shared)
    val f2 = writeTemp("b.bin", shared ++ only2)
    val chunks = ChunkRelation.chunkFiles(spark, Seq(f1.toString, f2.toString))
    val m = Estimator.merged(chunks).cache()
    import spark.implicits._
    val bothFiles = m.filter(size(col("seen_in")) === 2)
    assert(bothFiles.count() > 0, "shared prefix must produce chunks seen in both files")
    assert(bothFiles.filter(col("first_seen_in") =!= 0).count() == 0)
    val seenLists = m.select(col("seen_in")).as[Seq[Long]].collect()
    seenLists.foreach(s => assert(s == s.sorted && s.distinct == s))
    m.unpersist()
  }

  test("empty input: estimate returns zeros, not NPE") {
    val empty = writeTemp("empty.bin", Array.emptyByteArray)
    val r = Estimator.estimate(spark, Seq(empty.toString))
    assert(r.total_len == 0 && r.chunk_bytes == 0 && r.dedup_ratio == 0.0)
    val grid = Estimator.estimateGrid(spark, Seq(("g", "f", empty.toString)))
    assert(grid.size == 1 && grid.head.total_len == 0 && grid.head.numfiles == 1)
  }

  test("estimate on real parquet testdata returns sane ratios") {
    val paths = Seq(sf() + "/lineitem.parquet", sf() + "/orders.parquet")
    val r = Estimator.estimate(spark, paths)
    assert(r.total_len > 0)
    assert(r.dedup_ratio > 0.0 && r.dedup_ratio <= 1.0)
    assert(r.compressed_chunk_bytes > 0 && r.compressed_chunk_bytes <= r.chunk_bytes)
  }

  test("metamorphic: append-only edit adds ~appended bytes of unique chunks") {
    val base = randomBytes(4 << 20, 21L)
    val appended = randomBytes(512 << 10, 22L)
    val f1 = writeTemp("a.bin", base)
    val f2 = writeTemp("b.bin", base ++ appended)
    val r = Estimator.estimate(spark, Seq(f1.toString, f2.toString))
    assert(r.total_len == base.length.toLong * 2 + appended.length)
    // unique ≈ base + appended + at most a couple of boundary chunks
    val slack = 2 * 128 * 1024
    assert(r.chunk_bytes >= base.length.toLong + appended.length)
    assert(r.chunk_bytes <= base.length.toLong + appended.length + slack,
      s"unique=${r.chunk_bytes}")
  }

  test("metamorphic: concatenation preserves total bytes") {
    val a = randomBytes(1 << 20, 23L)
    val b = randomBytes(1 << 20, 24L)
    val fa = writeTemp("a.bin", a)
    val fb = writeTemp("b.bin", b)
    val fab = writeTemp("ab.bin", a ++ b)
    val separate = Estimator.estimate(spark, Seq(fa.toString, fb.toString))
    val joined = Estimator.estimate(spark, Seq(fab.toString))
    assert(separate.total_len == joined.total_len)
    // shared content dominates: concatenated file shares almost all chunks
    val both = Estimator.estimate(spark, Seq(fa.toString, fb.toString, fab.toString))
    assert(both.chunk_bytes < both.total_len * 0.6)
  }

  test("metamorphic: sharding the same bytes barely moves unique-chunk bytes") {
    // the reference's varying-file-splits study (BASELINE.md: 5/10/20
    // shards -> same ~3.2 GB unique): gear boundaries are content-local,
    // so only the chunks STRADDLING a split point can change identity —
    // unique bytes shift by at most ~(splits x maxLen), total bytes not
    // at all
    val params = ChunkerParams(
      mask = -1L << (64 - 10), minLen = 256, maxLen = 8 * 1024)
    val blob = randomBytes(512 * 1024, 77L)
    // duplicated content so dedup is non-trivial in every sharding
    val content = blob ++ blob
    def statsOf(splits: Int): (Long, Long) = {
      val dir = Files.createTempDirectory(s"graft-shard$splits")
      val per = content.length / splits
      val files = (0 until splits).map { i =>
        val from = i * per
        val until = if (i == splits - 1) content.length else (i + 1) * per
        val p = dir.resolve(s"part$i.bin")
        Files.write(p, java.util.Arrays.copyOfRange(content, from, until))
        p.toString
      }
      val (total, unique, _) =
        Estimator.stats(ChunkRelation.chunkFiles(spark, files, params))
      (total, unique)
    }
    val Seq((t1, u1), (t4, u4), (t8, u8)) = Seq(1, 4, 8).map(statsOf)
    assert(t1 == content.length.toLong && t4 == t1 && t8 == t1,
      "total bytes are sharding-invariant")
    val slack = 8 * 2 * params.maxLen // straddling chunks per split, both copies
    assert(math.abs(u4 - u1) <= slack, s"u1=$u1 u4=$u4")
    assert(math.abs(u8 - u1) <= slack, s"u1=$u1 u8=$u8")
    // and dedup genuinely happened (content is doubled)
    assert(u1 < t1 * 6 / 10, s"expected ~half unique, got $u1 of $t1")
  }

  test("128-bit identity agrees with 64-bit on collision-free data") {
    val bytes = randomBytes(2 << 20, 31L)
    val f1 = writeTemp("a.bin", bytes)
    val f2 = writeTemp("b.bin", bytes)
    val paths = Seq(f1.toString, f2.toString)
    val (t64, c64, z64) = Estimator.stats(ChunkRelation.chunkFiles(spark, paths))
    val (t128, c128, z128) = Estimator.stats128(ChunkRelation.chunkFiles128(spark, paths))
    assert((t64, c64, z64) == ((t128, c128, z128)))
    assert(c128 == bytes.length.toLong, "identical files share every 128-bit chunk id")
    // the two hash lanes are genuinely independent values
    val wide = ChunkRelation.chunkFiles128(spark, paths).head()
    assert(wide.hash != wide.hash2)
  }

  test("grid estimate: one result per (group, format) with correct numfiles") {
    val a = writeTemp("a.bin", randomBytes(512 << 10, 14L))
    val b = writeTemp("b.bin", randomBytes(512 << 10, 15L))
    val res = Estimator.estimateGrid(
      spark,
      Seq(("g1", "raw", a.toString), ("g1", "raw", b.toString), ("g2", "raw", a.toString)))
    assert(res.size == 2)
    val g1 = res.find(_.group == "g1").get
    assert(g1.numfiles == 2)
    assert(res.find(_.group == "g2").get.numfiles == 1)
    res.foreach(r => assert(r.dedup_ratio > 0 && r.dedup_ratio <= 1.0))
  }

  /** (total, unique bytes, unique compressed bytes) of `files` under `p`,
    * computed in memory with no Spark — the reference for the chunk stage.
    */
  private def localStats(files: Seq[Path], p: ChunkerParams): (Long, Long, Long) = {
    val seen = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
    var total = 0L
    files.foreach { f =>
      Chunker.chunkStats(Files.readAllBytes(f), p).foreach { case (h, size, comp) =>
        total += size
        seen.getOrElseUpdate(h, (size.toLong, comp.toLong))
      }
    }
    (total, seen.values.map(_._1).sum, seen.values.map(_._2).sum)
  }

  test("estimate equals the two-pass formula on mixed inputs (split-routed, empty, > parallelism)") {
    val dir = Files.createTempDirectory("graft-est-mixed")
    val shared = randomBytes(700 << 10, 61L)
    val contents = Seq(
      shared ++ randomBytes(600 << 10, 62L), // >= threshold: DistributedChunker
      randomBytes(1 << 20, 63L) ++ shared, // >= threshold: DistributedChunker
      Array.emptyByteArray,
      shared,
      randomBytes(300 << 10, 64L),
      shared.slice(100 << 10, 500 << 10),
      randomBytes(40 << 10, 65L),
      randomBytes(5000, 66L), // shorter than minLen: one chunk
      randomBytes(200 << 10, 67L) ++ shared.slice(0, 300 << 10))
    val files = contents.zipWithIndex.map { case (c, i) =>
      Files.write(dir.resolve(s"f$i.bin"), c)
    }
    val paths = files.map(_.toString)
    assert(paths.size > spark.sparkContext.defaultParallelism)
    val threshold = 1L << 20
    assert(contents.count(_.length >= threshold) == 2)
    val params = ChunkerParams.Default
    val xet = ChunkerParams.Xet
    val r = Estimator.estimateRouted(spark, paths, "g", "f", params, xet, threshold)
    // the two-pass formula estimate replaced: a default pass and a xet pass
    val (total, chunkBytes, compressed) =
      Estimator.stats(ChunkRelation.chunkFilesAuto(spark, paths, params, threshold))
    val xetBytes =
      Estimator.uniqueBytes(ChunkRelation.chunkFilesAuto(spark, paths, xet, threshold))
    assert((r.total_len, r.chunk_bytes, r.compressed_chunk_bytes, r.xet_bytes) ==
      ((total, chunkBytes, compressed, xetBytes)))
    assert(r.numfiles == paths.size && r.group == "g" && r.format == "f")
    assert(r.dedup_ratio == chunkBytes.toDouble / total)
    assert(r.xet_dedup_ratio == xetBytes.toDouble / total)
    // and both agree with the Spark-free reference
    assert((total, chunkBytes, compressed) == localStats(files, params))
    assert(xetBytes == localStats(files, xet)._2)
    assert(total == contents.map(_.length.toLong).sum && chunkBytes < total)
    // the default threshold (no split routing) gives the same figures
    assert(Estimator.estimate(spark, paths, "g", "f") == r)
  }

  test("estimate runs at most 3 Spark jobs over 20 files (one scan, one aggregation)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val dir = Files.createTempDirectory("graft-est-jobs")
    val shared = randomBytes(96 << 10, 71L)
    val paths = (0 until 20).map { i =>
      Files.write(dir.resolve(s"f$i.bin"), shared ++ randomBytes(32 << 10, 72L + i)).toString
    }
    val sc = spark.sparkContext
    val group = s"estimate-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case g if g == group => jobs.incrementAndGet()
          case g if g == s"$group-marker" => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "estimate")
      val r = Estimator.estimate(spark, paths)
      assert(r.total_len == paths.size * (128L << 10) && r.chunk_bytes < r.total_len)
      // listener events arrive in order: once the marker job's start is
      // seen, every job the estimate ran has been counted
      sc.setJobGroup(s"$group-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.get() >= 1 && jobs.get() <= 3,
      s"estimate ran ${jobs.get()} jobs; the fused single-scan estimate runs at most 3")
  }

  test("chunkFiles rows equal the naive reference over each file's bytes, row for row") {
    val dir = Files.createTempDirectory("graft-chunkfiles")
    val contents = Seq(randomBytes(900 << 10, 81L), Array.emptyByteArray,
      randomBytes(300 << 10, 82L), randomBytes(20 << 10, 83L), randomBytes(2 << 20, 84L),
      randomBytes(70 << 10, 85L))
    val paths = contents.zipWithIndex.map { case (c, i) =>
      Files.write(dir.resolve(s"f$i.bin"), c).toString
    }
    val params = ChunkerParams(mask = -1L << (64 - 12), minLen = 1024, maxLen = 16 * 1024)
    val expect = contents.zipWithIndex.flatMap { case (c, fi) =>
      ChunkerSpec.referenceStats(c, params).zipWithIndex.map {
        case ((hash, size, compressed), ci) =>
          ChunkRow(fi.toLong, ci.toLong, hash, size.toLong, compressed.toLong)
      }
    }
    val got = ChunkRelation.chunkFiles(spark, paths, params)
    assert(got.columns.toSeq == Seq("file_idx", "chunk_idx", "hash", "size", "compressed"))
    assert(got.collect().sortBy(r => (r.file_idx, r.chunk_idx)).toSeq == expect)
    val wide = ChunkRelation.chunkFiles128(spark, paths, params).collect()
      .sortBy(r => (r.file_idx, r.chunk_idx))
      .map(r => ChunkRow(r.file_idx, r.chunk_idx, r.hash, r.size, r.compressed)).toSeq
    assert(wide == expect)
  }

  test("chunk stage bins balance bytes: largest first, to the least-loaded partition") {
    val files = Seq(5L, 100L, 40L, 0L, 60L, 30L, 30L).zipWithIndex
      .map { case (len, i) => SizedFile(i.toLong, s"f$i", len) }
    val bins = ChunkRelation.balance(files, 3)
    assert(bins.size == 3 && bins.forall(_.nonEmpty))
    assert(bins.flatten.sortBy(_.idx) == files)
    bins.foreach(b => assert(b.map(_.idx) == b.map(_.idx).sorted))
    // 100 | 60 + 30 | 40 + 30 + 5 + 0
    assert(bins.map(_.map(_.len).sum).sorted == Seq(75L, 90L, 100L))
    assert(ChunkRelation.balance(files.take(2), 8).size == 2)
    assert(ChunkRelation.balance(Nil, 8).isEmpty)
  }

  test("segments: ordered provenance stream with correct length") {
    val bytes = randomBytes(1 << 20, 16L)
    val f1 = writeTemp("a.bin", bytes)
    val f2 = writeTemp("b.bin", bytes)
    val chunks = ChunkRelation.chunkFiles(spark, Seq(f1.toString, f2.toString)).cache()
    val occ = chunks.count()
    val seg = Estimator.segments(chunks).collect()
    assert(seg.length == occ)
    // file 2's chunks are all first seen in file 0 (identical content)
    seg.filter(_.getLong(0) == 1L).foreach(r => assert(r.getLong(4) == 0L))
    chunks.unpersist()
  }
}
