package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

object ChunkerSpec {

  /** The naive reference every chunk kernel is checked against: a per-byte
    * gear walk straight from the definition — `h = (h << 1) + g(b)`, a cut
    * where `(h & mask) == 0` at or past minLen or at maxLen, h reset at each
    * cut — with no hash skip and no buffering. (start, length) per chunk.
    */
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

  /** The reference's (xxh64 seed 42, size, lz4 size) per chunk. */
  def referenceStats(bytes: Array[Byte], p: ChunkerParams): Vector[(Long, Int, Int)] =
    noSkipReference(bytes, p).map { case (s, n) =>
      (XXH64.hash(bytes, s, n, XXH64.DefaultSeed), n, Lz4Len(bytes, s, n))
    }
}

class ChunkerSpec extends AnyFunSuite {
  import ChunkerSpec.{noSkipReference, referenceStats}

  private def randomBytes(n: Int, seed: Long): Array[Byte] = {
    val r = new java.util.Random(seed)
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }

  /** Chunk payloads as copies of `bytes`, cut at `Chunker.boundaries`. */
  private def chunk(bytes: Array[Byte], p: ChunkerParams = ChunkerParams.Default): Vector[Array[Byte]] =
    Chunker.boundaries(bytes, p).map { case (s, n) => java.util.Arrays.copyOfRange(bytes, s, s + n) }

  test("chunks concatenate back to the input") {
    val data = randomBytes(1 << 20, 1L)
    val chunks = chunk(data)
    assert(chunks.map(_.length).sum == data.length)
    assert(java.util.Arrays.equals(chunks.toArray.flatten, data))
  }

  test("all chunks >= minLen except possibly the final; all <= maxLen") {
    val p = ChunkerParams.Default
    val data = randomBytes((1 << 20) + 12345, 2L)
    val chunks = chunk(data, p)
    assert(chunks.nonEmpty)
    chunks.init.foreach(c => assert(c.length >= p.minLen && c.length <= p.maxLen))
    assert(chunks.last.length <= p.maxLen)
  }

  test("average chunk size is in the expected ~64 KiB ballpark") {
    val data = randomBytes(8 << 20, 3L)
    val chunks = chunk(data)
    val avg = data.length.toDouble / chunks.size
    // 16 mask bits => expected 64 KiB between boundaries; allow wide slack.
    assert(avg > 16 * 1024 && avg < 200 * 1024, s"avg=$avg")
  }

  test("deterministic across runs") {
    // read-buffer invariance is the ChunkScan reference test's (1, 37,
    // 4097 and 4 MiB read buffers against the naive reference)
    val data = randomBytes(3 << 20, 4L)
    assert(Chunker.boundaries(data) == Chunker.boundaries(data))
  }

  test("duplicate content yields duplicate chunk hashes (X ++ X)") {
    val x = randomBytes(2 << 20, 5L)
    val dup = x ++ x
    val hashes = chunk(dup).map(XXH64.hash(_, XXH64.DefaultSeed))
    val unique = hashes.toSet
    assert(unique.size < hashes.size, "expected duplicated chunk hashes for doubled content")
    // Unique bytes should be close to one copy, well under total.
    val sizeByHash = chunk(dup).map(c => XXH64.hash(c, XXH64.DefaultSeed) -> c.length).toMap
    val uniqueBytes = sizeByHash.values.sum
    assert(uniqueBytes < dup.length * 0.75, s"uniqueBytes=$uniqueBytes total=${dup.length}")
  }

  test("small local edit changes only O(1) chunks") {
    val x = randomBytes(4 << 20, 6L)
    val y = x.clone()
    y(2 << 20) = (y(2 << 20) ^ 0x5a).toByte
    val hx = chunk(x).map(XXH64.hash(_, 42L)).toSet
    val hy = chunk(y).map(XXH64.hash(_, 42L))
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
      val chunks = chunk(data, p)
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
    val hashes = chunk(data).map(c => XXH64.hash(c, 42L))
    assert(hashes == Vector(230101126712696998L, 1807013923015510247L,
      5897939731392082316L))
  }

  test("empty input produces no chunks") {
    assert(Chunker.boundaries(Array.emptyByteArray).isEmpty)
    assert(Chunker.chunkStats(Array.emptyByteArray, ChunkerParams.Default).isEmpty)
    assert(Chunker.chunkStats(null, ChunkerParams.Default).isEmpty)
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
      val sizeByHash = chunk(data, p)
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

  // The table every kernel is checked against the naive reference over.
  // The coarse 4-bit configs (P[boundary] = 1/16 per byte) put many
  // boundaries exactly at curLen == minLen, the position where an
  // off-by-one in Chunker.hashSkip would first diverge; minLen 65..265
  // makes the skipped prefix 1..201 bytes. The production configs
  // (16 mask bits) almost never exercise that position.
  private lazy val configs: IndexedSeq[ChunkerParams] = {
    val rng = new scala.util.Random(31)
    val coarse = (65 to 265 by 25).zipWithIndex.map { case (minLen, i) =>
      ChunkerParams(mask = 0xf000000000000000L, minLen = minLen, maxLen = 4096,
        enforceMax = i % 2 == 0, tableSeed = rng.nextLong())
    }
    IndexedSeq(
      ChunkerParams.Default,
      ChunkerParams.Xet,
      ChunkerParams(mask = -1L << (64 - 5), minLen = 16, maxLen = 256), // stream_cdc's
      ChunkerParams(mask = -1L << (64 - 10), minLen = 256, maxLen = 4096),
      ChunkerParams(mask = -1L << (64 - 10), minLen = 64, maxLen = 1024, enforceMax = false)) ++
      coarse
  }

  private lazy val inputs: Seq[(String, Array[Byte])] = {
    val base = randomBytes(600000, 41L)
    // edited copy: an insert, a delete and an overwrite at scattered points
    val edited = base.slice(0, 150000) ++ randomBytes(3000, 42L) ++
      base.slice(150000, 320000) ++ base.slice(330000, 450000) ++
      randomBytes(500, 43L) ++ base.slice(450500, base.length)
    val maxLenMultiple = 8 * ChunkerParams.Default.maxLen // a multiple of every maxLen here
    Seq(
      "random" -> base,
      "edited copy" -> (base ++ edited),
      "empty" -> Array.emptyByteArray,
      "shorter than minLen" -> randomBytes(configs.map(_.minLen).min - 1, 44L),
      "exact multiple of maxLen (forced cuts)" -> new Array[Byte](maxLenMultiple),
      "exact multiple of maxLen (random)" -> randomBytes(maxLenMultiple, 45L))
  }

  test("hash-skip is boundary-identical to a no-skip reference at coarse masks") {
    for ((name, data) <- inputs; p <- configs)
      assert(Chunker.boundaries(data, p) == noSkipReference(data, p), s"$name: boundaries diverged: $p")
  }

  test("property: chunkStats equals the naive reference's (hash, size, lz4) per config and input") {
    for ((name, data) <- inputs; p <- configs)
      assert(Chunker.chunkStats(data, p).toVector == referenceStats(data, p), s"$name: chunkStats diverged: $p")
  }

  test("ChunkScan: every config yields the naive reference's (hash, size, lz4) stream from one read, per read buffer") {
    for ((name, data) <- inputs) {
      val want = configs.map(referenceStats(data, _))
      // every config from one read; 37 puts a refill inside the coarse
      // configs' skip region
      for (bufSize <- Seq(1, 37, 4097, 4 << 20)) {
        val scan = new ChunkScan(new java.io.ByteArrayInputStream(data), configs, bufSize)
        val got = scan.stats(configs.map(_ => true)).toVector
        configs.indices.foreach { c =>
          val mine = got.filter(_.config == c)
          assert(mine.map(_.index) == mine.indices.map(_.toLong), s"$name/$bufSize/config $c: indices")
          assert(mine.map(x => (x.hash, x.size, x.compressed)) == want(c),
            s"$name/$bufSize: config $c (${configs(c)}) diverged from the reference")
        }
        assert(!scan.advance(), "an exhausted scan stays exhausted")
        // only the enforceMax = false configs may grow the window
        val bounded = configs.filter(_.enforceMax)
        val boundedScan = new ChunkScan(new java.io.ByteArrayInputStream(data), bounded, bufSize)
        while (boundedScan.advance()) ()
        assert(boundedScan.window.length <= bufSize + bounded.map(_.maxLen).max,
          s"$name/$bufSize: window ${boundedScan.window.length} beyond read buffer + maxLen")
      }
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
      referenceStats(data, ChunkerParams.Default).map(x => (x._1, x._2)))
    assert(got.filter(_.config == 1).map(x => (x.hash, x.size, x.compressed)) ==
      referenceStats(data, ChunkerParams.Xet))
  }

  test("lz4 length is positive and compresses repetitive data well") {
    val repetitive = Array.fill[Byte](100000)(7)
    val random = randomBytes(100000, 8L)
    assert(Lz4Len(repetitive) < 2000)
    assert(Lz4Len(random) >= 100000 * 9 / 10)
    assert(Lz4Len(Array.emptyByteArray) == 0)
  }
}
