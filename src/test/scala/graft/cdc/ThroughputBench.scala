package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

/** Kernel micro-benchmarks. The chunker scan is the 100 TB-critical path:
  * everything else is Spark built-ins.
  *
  * The throughput floors are REPORT-ONLY in the default `sbt test` task:
  * the suite runs concurrently with ~40 Spark suites at local[32], and a
  * wall-clock floor under that load is a flake generator (measured 11 MiB/s
  * loaded vs 209 MiB/s isolated for the same code). Set `GRAFT_ENFORCE_PERF=1`
  * to turn the floors into hard assertions, e.g.
  * `GRAFT_ENFORCE_PERF=1 sbt "testOnly graft.cdc.ThroughputBench"` run in
  * isolation — that is the enforced bench configuration.
  */
class ThroughputBench extends AnyFunSuite {

  private val enforce = sys.env.get("GRAFT_ENFORCE_PERF").exists(_.nonEmpty)

  /** GRAFT_PERF_FLOOR_MIBS overrides both floors — the gate's self-test
    * hook: `GRAFT_ENFORCE_PERF=1 GRAFT_PERF_FLOOR_MIBS=99999` MUST fail,
    * proving the enforced path actually asserts (a gate nobody has ever
    * seen fire is a gate that may be wired to nothing).
    */
  private val floorOverride = sys.env.get("GRAFT_PERF_FLOOR_MIBS").map(_.toDouble)

  /** Hard-assert the floor only when explicitly requested; otherwise report. */
  private def checkFloor(mbps: Double, defaultFloor: Double, what: String): Unit = {
    val floor = floorOverride.getOrElse(defaultFloor)
    if (enforce) assert(mbps > floor, f"$what too slow: $mbps%.0f MiB/s (floor $floor%.0f)")
    else if (mbps <= floor)
      info(f"WARN: $what below $floor%.0f MiB/s floor ($mbps%.0f) — report-only under parallel `sbt test`; run with GRAFT_ENFORCE_PERF=1 in isolation to enforce")
  }

  private def randomBytes(n: Int, seed: Long): Array[Byte] = {
    val r = new java.util.Random(seed)
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }

  test("chunker scan throughput") {
    val data = randomBytes(256 << 20, 1L) // 256 MiB
    // warm-up
    Chunker.boundaries(java.util.Arrays.copyOf(data, 16 << 20))
    val t0 = System.nanoTime()
    val bounds = Chunker.boundaries(data)
    val secs = (System.nanoTime() - t0) / 1e9
    val mbps = (data.length / (1 << 20)) / secs
    info(f"boundaries: $mbps%.0f MiB/s (${bounds.size} chunks)")
    // isolated runs measure 450-620 MiB/s with the hash-free window warm-up skip
    checkFloor(mbps, 40, "chunker")
  }

  test("ChunkScan throughput incl. hash + lz4") {
    val data = randomBytes(128 << 20, 2L)
    val p = ChunkerParams.Default
    val t0 = System.nanoTime()
    var n = 0L
    val chunks = new ChunkScan(new java.io.ByteArrayInputStream(data), IndexedSeq(p), p.readBufSize)
      .stats(IndexedSeq(true))
    while (chunks.hasNext) {
      val c = chunks.next()
      n += (c.hash ^ c.compressed) & 1L
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val mbps = (data.length / (1 << 20)) / secs
    info(f"chunk+hash+lz4: $mbps%.0f MiB/s")
    // isolated runs on a 4-core box measure 227-354 MiB/s
    checkFloor(mbps, 20, "pipeline")
  }
}
