package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

class ChunkerSpec extends AnyFunSuite {

  private def randomBytes(n: Int, seed: Long): Array[Byte] = {
    val r = new java.util.Random(seed)
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }

  test("chunks concatenate back to the input") {
    val data = randomBytes(1 << 20, 1L)
    val chunks = Chunker.chunk(data)
    assert(chunks.map(_.length).sum == data.length)
    assert(java.util.Arrays.equals(chunks.toArray.flatten, data))
  }

  test("all chunks >= minLen except possibly the final; all <= maxLen") {
    val p = ChunkerParams.Default
    val data = randomBytes((1 << 20) + 12345, 2L)
    val chunks = Chunker.chunk(data, p)
    assert(chunks.nonEmpty)
    chunks.init.foreach(c => assert(c.length >= p.minLen && c.length <= p.maxLen))
    assert(chunks.last.length <= p.maxLen)
  }

  test("average chunk size is in the expected ~64 KiB ballpark") {
    val data = randomBytes(8 << 20, 3L)
    val chunks = Chunker.chunk(data)
    val avg = data.length.toDouble / chunks.size
    // 16 mask bits => expected 64 KiB between boundaries; allow wide slack.
    assert(avg > 16 * 1024 && avg < 200 * 1024, s"avg=$avg")
  }

  test("deterministic across runs and buffer sizes") {
    val data = randomBytes(3 << 20, 4L)
    val a = Chunker.boundaries(data)
    val b = Chunker.boundaries(data)
    assert(a == b)
    val small = new ChunkIterator(new java.io.ByteArrayInputStream(data), ChunkerParams.Default, bufSize = 4097)
      .map(_.length).toVector
    assert(small == a.map(_._2))
  }

  test("duplicate content yields duplicate chunk hashes (X ++ X)") {
    val x = randomBytes(2 << 20, 5L)
    val dup = x ++ x
    val hashes = Chunker.chunk(dup).map(XXH64.hash(_, XXH64.DefaultSeed))
    val unique = hashes.toSet
    assert(unique.size < hashes.size, "expected duplicated chunk hashes for doubled content")
    // Unique bytes should be close to one copy, well under total.
    val sizeByHash = Chunker.chunk(dup).map(c => XXH64.hash(c, XXH64.DefaultSeed) -> c.length).toMap
    val uniqueBytes = sizeByHash.values.sum
    assert(uniqueBytes < dup.length * 0.75, s"uniqueBytes=$uniqueBytes total=${dup.length}")
  }

  test("small local edit changes only O(1) chunks") {
    val x = randomBytes(4 << 20, 6L)
    val y = x.clone()
    y(2 << 20) = (y(2 << 20) ^ 0x5a).toByte
    val hx = Chunker.chunk(x).map(XXH64.hash(_, 42L)).toSet
    val hy = Chunker.chunk(y).map(XXH64.hash(_, 42L))
    val changed = hy.count(h => !hx.contains(h))
    assert(changed <= 4, s"changed=$changed of ${hy.size} chunks")
  }

  test("different tableSeed produces different boundaries") {
    val data = randomBytes(2 << 20, 7L)
    val a = Chunker.boundaries(data, ChunkerParams.Default)
    val b = Chunker.boundaries(data, ChunkerParams.Xet)
    assert(a != b)
  }

  test("property: reassembly + size bounds on arbitrary inputs") {
    val p = ChunkerParams(minLen = 64, maxLen = 1024, enforceMax = true)
    val rng = new java.util.Random(99L)
    (0 until 200).foreach { _ =>
      val n = rng.nextInt(50000)
      val data = randomBytes(n, rng.nextLong())
      val chunks = Chunker.chunk(data, p)
      assert(chunks.map(_.length).sum == n)
      if (chunks.nonEmpty) {
        chunks.init.foreach(c => assert(c.length >= p.minLen && c.length <= p.maxLen))
        assert(chunks.last.length <= p.maxLen)
      }
    }
  }

  test("golden vectors: pinned boundaries + hashes (gear table stability)") {
    // Pinned 2026-08: any change to the gear table, mask handling, or
    // XXH64 breaks chunk identity across releases — this test is the trip
    // wire (SURVEY §5-4).
    val r = new java.util.Random(20260812L)
    val data = new Array[Byte](256 * 1024)
    r.nextBytes(data)
    val bounds = Chunker.boundaries(data)
    assert(bounds == Vector((0, 39480), (39480, 131072), (170552, 91592)))
    val hashes = Chunker.chunk(data).map(c => XXH64.hash(c, 42L))
    assert(hashes == Vector(230101126712696998L, 1807013923015510247L,
      5897939731392082316L))
  }

  test("hash-skip is boundary-identical to a no-skip reference at coarse masks") {
    // directed at the warm-up window: minLen > 64 (so the skip engages)
    // with a COARSE mask (4 bits ⇒ P[boundary] = 1/16 per byte), so many
    // boundaries land exactly at curLen == minLen — the position where an
    // off-by-one in hashSkip would first diverge. The production tests
    // (16 mask bits) almost never exercise that position.
    def noSkipReference(bytes: Array[Byte], p: ChunkerParams): Vector[(Int, Int)] = {
      val table = Gear.table(p.tableSeed)
      val out = Vector.newBuilder[(Int, Int)]
      var h = 0L
      var start = 0
      var i = 0
      while (i < bytes.length) {
        h = (h << 1) + table(bytes(i) & 0xff)
        i += 1
        val curLen = i - start
        if ((curLen >= p.minLen && (h & p.mask) == 0L) ||
          (p.enforceMax && curLen >= p.maxLen)) {
          out += ((start, curLen)); start = i; h = 0L
        }
      }
      if (start < bytes.length) out += ((start, bytes.length - start))
      out.result()
    }
    val rng = new scala.util.Random(31)
    for (trial <- 0 until 40) {
      val p = ChunkerParams(
        mask = 0xf000000000000000L, // 4 bits: boundaries-at-minLen are common
        minLen = 65 + rng.nextInt(200), // skip in [1, 200]
        maxLen = 4096,
        enforceMax = trial % 2 == 0,
        tableSeed = rng.nextLong())
      val data = randomBytes(8192 + rng.nextInt(8192), rng.nextLong())
      val expect = noSkipReference(data, p)
      assert(Chunker.boundaries(data, p) == expect, s"boundaries diverged: $p")
      assert(Chunker.chunkStats(data, p).map(_._2).toVector == expect.map(_._2),
        s"chunkStats diverged: $p")
      // streaming path with a refill INSIDE the skip region
      val streamed = new ChunkIterator(
        new java.io.ByteArrayInputStream(data), p, bufSize = 37)
        .map(_.length).toVector
      assert(streamed == expect.map(_._2), s"ChunkIterator diverged: $p")
    }
  }

  test("empty input produces no chunks") {
    assert(Chunker.chunk(Array.emptyByteArray).isEmpty)
    assert(Chunker.chunkStats(Array.emptyByteArray, ChunkerParams.Default).isEmpty)
    assert(Chunker.chunkStats(null, ChunkerParams.Default).isEmpty)
  }

  test("chunkStats matches the streaming ChunkIterator path exactly") {
    // the zero-copy kernel and the streaming iterator must agree
    // (hash, size, compressed) for every chunk, at big and tiny chunk params
    for {
      params <- Seq(ChunkerParams.Default,
        ChunkerParams(mask = -1L << (64 - 5), minLen = 16, maxLen = 256),
        ChunkerParams(minLen = 64, maxLen = 1024, enforceMax = false))
      seed <- Seq(11L, 12L)
    } {
      val data = randomBytes(300000 + seed.toInt, seed)
      val streamed = new ChunkIterator(
        new java.io.ByteArrayInputStream(data), params, bufSize = 8192)
        .map(c => (XXH64.hash(c, XXH64.DefaultSeed), c.length, Lz4Len(c)))
        .toVector
      val stats = Chunker.chunkStats(data, params).toVector
      assert(stats == streamed, s"mismatch for $params")
    }
  }

  test("xet chunker tracks the default chunker's dedup ratio (documented divergence bound)") {
    // C5 (VERDICT r4 #5): ChunkerParams.Xet now follows xet-core's
    // PUBLISHED parameter derivation exactly (mask/min/max from
    // TARGET_CHUNK_SIZE — pinned by the derivation test below); the single
    // remaining stand-in is the gear TABLE (gearhash's DEFAULT_TABLE
    // constants are not reproducible offline; a seed-derived table with
    // identical statistics substitutes). Chunk IDENTITIES therefore still
    // differ from xet-core's, and what must hold for xet_dedup_ratio to be
    // meaningful is that the MEASURED RATIO tracks any healthy CDC
    // chunker's ratio on the same content. This test pins that contract:
    // on X++X (true ratio 0.5 + one boundary-straddle chunk) both configs
    // land within 5 points of each other and of truth; on all-distinct
    // content both report ~1.0.
    def ratio(data: Array[Byte], p: ChunkerParams): Double = {
      val sizeByHash = Chunker.chunk(data, p)
        .map(c => XXH64.hash(c, 42L) -> c.length).toMap
      sizeByHash.values.sum.toDouble / data.length
    }
    val x = randomBytes(4 << 20, 21L)
    val dup = x ++ x
    val d = ratio(dup, ChunkerParams.Default)
    val xr = ratio(dup, ChunkerParams.Xet)
    assert(math.abs(d - xr) < 0.05, s"default=$d xet=$xr diverge beyond bound")
    assert(d > 0.45 && d < 0.55, s"default=$d far from true 0.5")
    assert(xr > 0.45 && xr < 0.55, s"xet=$xr far from true 0.5")
    val distinct = randomBytes(4 << 20, 22L)
    assert(ratio(distinct, ChunkerParams.Xet) > 0.999)
    // and the boundary STREAMS genuinely differ (independent gear table) —
    // the divergence the bound above is written against
    assert(Chunker.boundaries(dup, ChunkerParams.Default) !=
      Chunker.boundaries(dup, ChunkerParams.Xet))
  }

  test("xet parameter derivation matches xet-core's published normalization") {
    // Chunker::new(target): mask = (target-1) << leading_zeros, min =
    // target / MINIMUM_CHUNK_DIVISOR (8), max = target *
    // MAXIMUM_CHUNK_MULTIPLIER (2), max enforced — at the production
    // 64 KiB target AND across other powers of two
    val p = ChunkerParams.xetFromTarget(64 * 1024)
    assert(p.mask == 0xffff000000000000L)
    assert(p.minLen == 8 * 1024 && p.maxLen == 128 * 1024 && p.enforceMax)
    assert(ChunkerParams.Xet == p, "the production config IS the derivation at 64 KiB")
    val q = ChunkerParams.xetFromTarget(1024)
    assert(q.mask == 0xffc0000000000000L, f"mask=${q.mask}%016x")
    assert(q.minLen == 128 && q.maxLen == 2048)
    // expected chunk size ~target: P[boundary]=1/target per byte once past
    // min, so mean size ≈ min + target; sanity-check the 64 KiB config's
    // mean lands in [0.5x, 2x] of target on random data
    val data = randomBytes(32 << 20, 23L)
    val sizes = Chunker.boundaries(data, p).map(_._2)
    val mean = sizes.sum.toDouble / sizes.size
    assert(mean > 32 * 1024 && mean < 160 * 1024, s"mean chunk $mean off target")
    intercept[IllegalArgumentException](ChunkerParams.xetFromTarget(3000))
  }

  /** ChunkIterator's (hash, size, lz4 size) stream — the reference the
    * multi-config scan must reproduce per config.
    */
  private def iteratorStats(data: Array[Byte], p: ChunkerParams): Vector[(Long, Int, Int)] =
    new ChunkIterator(new java.io.ByteArrayInputStream(data), p, bufSize = 8192)
      .map(c => (XXH64.hash(c, XXH64.DefaultSeed), c.length, Lz4Len(c)))
      .toVector

  test("ChunkScan: every config yields ChunkIterator's (hash, size, lz4) stream from one read") {
    val configs = IndexedSeq(
      ChunkerParams.Default,
      ChunkerParams.Xet,
      ChunkerParams(mask = -1L << (64 - 10), minLen = 256, maxLen = 4096),
      ChunkerParams(mask = -1L << (64 - 10), minLen = 64, maxLen = 1024, enforceMax = false))
    val base = randomBytes(600000, 41L)
    // edited copy: an insert, a delete and an overwrite at scattered points
    val edited = base.slice(0, 150000) ++ randomBytes(3000, 42L) ++
      base.slice(150000, 320000) ++ base.slice(330000, 450000) ++
      randomBytes(500, 43L) ++ base.slice(450500, base.length)
    val maxLenMultiple = 8 * ChunkerParams.Default.maxLen // a multiple of every maxLen here
    val inputs = Seq(
      "random" -> base,
      "edited copy" -> (base ++ edited),
      "empty" -> Array.emptyByteArray,
      "shorter than minLen" -> randomBytes(50, 44L),
      "exact multiple of maxLen (forced cuts)" -> new Array[Byte](maxLenMultiple),
      "exact multiple of maxLen (random)" -> randomBytes(maxLenMultiple, 45L))
    val expected = inputs.map { case (_, d) => configs.map(iteratorStats(d, _)) }
    for {
      bufSize <- Seq(1, 4097, 4 << 20)
      ((name, data), want) <- inputs.zip(expected)
    } {
      val scan = new ChunkScan(new java.io.ByteArrayInputStream(data), configs, bufSize)
      val got = scan.stats(configs.map(_ => true)).toVector
      configs.indices.foreach { c =>
        val mine = got.filter(_.config == c)
        assert(mine.map(_.index) == mine.indices.map(_.toLong), s"$name/$bufSize/config $c: indices")
        assert(mine.map(x => (x.hash, x.size, x.compressed)) == want(c),
          s"$name/$bufSize: config $c (${configs(c)}) diverged from ChunkIterator")
      }
      assert(!scan.advance(), "an exhausted scan stays exhausted")
      // only the enforceMax = false config may grow the window
      val bounded = configs.init
      val boundedScan = new ChunkScan(new java.io.ByteArrayInputStream(data), bounded, bufSize)
      while (boundedScan.advance()) ()
      assert(boundedScan.window.length <= bufSize + bounded.map(_.maxLen).max,
        s"$name/$bufSize: window ${boundedScan.window.length} beyond read buffer + maxLen")
    }
  }

  test("ChunkScan: configs without lz4 report 0 compressed bytes, same hashes and sizes") {
    val configs = IndexedSeq(ChunkerParams.Default, ChunkerParams.Xet)
    val data = randomBytes(700000, 46L)
    val got = new ChunkScan(new java.io.ByteArrayInputStream(data), configs, 1 << 20)
      .stats(IndexedSeq(false, true)).toVector
    val default = got.filter(_.config == 0)
    assert(default.nonEmpty && default.forall(_.compressed == 0))
    assert(default.map(x => (x.hash, x.size)) ==
      iteratorStats(data, ChunkerParams.Default).map(x => (x._1, x._2)))
    assert(got.filter(_.config == 1).map(x => (x.hash, x.size, x.compressed)) ==
      iteratorStats(data, ChunkerParams.Xet))
  }

  test("lz4 length is positive and compresses repetitive data well") {
    val repetitive = Array.fill[Byte](100000)(7)
    val random = randomBytes(100000, 8L)
    assert(Lz4Len(repetitive) < 2000)
    assert(Lz4Len(random) >= 100000 * 9 / 10)
    assert(Lz4Len(Array.emptyByteArray) == 0)
  }
}
