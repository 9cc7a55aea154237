package graft

import graft.cdc.ChunkerParams

class ConfSpec extends SparkSpec {

  test("expectedChunkBytes: mask expectation gated by minLen and maxLen") {
    // default params: 16 mask bits -> 8 KiB min + 64 KiB expectation,
    // under the 128 KiB max
    assert(Conf.expectedChunkBytes(ChunkerParams.Default) ==
      (8L << 10) + (64L << 10))
    // a very coarse mask caps at maxLen
    assert(Conf.expectedChunkBytes(ChunkerParams.Default.copy(
      mask = 0xffffffff00000000L)) == 128L << 10)
  }

  test("sizeShufflePartitions: the 100 TB worked example and the clamps") {
    // README cluster-sizing paragraph: 100 TB at ~72 KiB expected chunks,
    // 48 B rows, 64 MiB target -> ~1000 partitions (vs 32 local default)
    val p = Conf.sizeShufflePartitions(
      inputBytes = 100L * 1000 * 1000 * 1000 * 1000,
      avgChunkBytes = Conf.expectedChunkBytes(ChunkerParams.Default))
    assert(p > 900 && p < 1100, s"100 TB should size to ~1000 partitions, got $p")
    // formula is exact: ceil(rows) * rowBytes / target, ceil again
    assert(Conf.sizeShufflePartitions(1000, 10, targetPartitionBytes = 100,
      rowBytes = 7) == 7) // 100 rows * 7 B = 700 B -> ceil(700/100) = 7
    // small inputs clamp to the floor
    assert(Conf.sizeShufflePartitions(1, 1 << 16, minPartitions = 32) == 32)
    // absurd inputs clamp to the ceiling
    assert(Conf.sizeShufflePartitions(Long.MaxValue / 64, 1024,
      maxPartitions = 200000) == 200000)
    // zero input is valid (empty estimate) and takes the floor
    assert(Conf.sizeShufflePartitions(0, 1 << 16) == 1)
    intercept[IllegalArgumentException] {
      Conf.sizeShufflePartitions(10, 0)
    }
  }

  test("sizeShufflePartitionsForRows: gram/band worked examples and clamps") {
    // containment gram exchange, 1 TB of text: ~1.6e11 word-grams
    // (≈6 B/word) × 32 B rows ≈ 5.1 TB shuffle → ~80k partitions
    val gram1TB = Conf.sizeShufflePartitionsForRows(
      160L * 1000 * 1000 * 1000, Conf.GramRowShuffleBytes)
    assert(gram1TB > 70000 && gram1TB < 90000,
      s"1 TB gram exchange should size to ~80k partitions, got $gram1TB")
    // 100 TB of text: the 200k scheduler ceiling binds (≈2.6 GB per reduce
    // partition — the disk-backed-aggregation regime, documented, not UB)
    assert(Conf.sizeShufflePartitionsForRows(
      16L * 1000 * 1000 * 1000 * 1000, Conf.GramRowShuffleBytes) == 200000)
    // minhash band exchange, 2e9 docs × 16 bands × 32 B ≈ 1 TB → ~16k
    val band = Conf.sizeShufflePartitionsForRows(
      2L * 1000 * 1000 * 1000 * 16, Conf.BandRowShuffleBytes)
    assert(band > 14000 && band < 18000,
      s"2e9-doc band exchange should size to ~16k partitions, got $band")
    // span window exchange, 1 TB of text: ~1.6e11 rolling windows (one
    // per token) × 40 B rows ≈ 6.4 TB shuffle → ~100k partitions
    val span1TB = Conf.sizeShufflePartitionsForRows(
      160L * 1000 * 1000 * 1000, Conf.SpanRowShuffleBytes)
    assert(span1TB > 90000 && span1TB < 110000,
      s"1 TB span exchange should size to ~100k partitions, got $span1TB")
    // 100 TB of text hits the 200k scheduler ceiling (≈3.2 GB per reduce
    // partition — the disk-backed-aggregation regime, same as grams)
    assert(Conf.sizeShufflePartitionsForRows(
      16L * 1000 * 1000 * 1000 * 1000, Conf.SpanRowShuffleBytes) == 200000)
    // empty relation keeps the floor
    assert(Conf.sizeShufflePartitionsForRows(0, 32, minPartitions = 32) == 32)
  }

  private val Width = "spark.sql.shuffle.partitions"
  private val TenTB = 10L * 1000 * 1000 * 1000 * 1000
  private val RowsE11 = 100L * 1000 * 1000 * 1000

  test("sizedSession: small inputs build in the caller's own session") {
    assert(Conf.sizedSession(spark, 1000L, Conf.GramRowShuffleBytes) eq spark)
    assert(Conf.sizedSession(spark,
      Conf.chunkRows(1L << 20, ChunkerParams.Default), Conf.ChunkRowShuffleBytes) eq spark)
    assert(Conf.sizedSession(spark, 0L, Conf.SpanRowShuffleBytes) eq spark)
  }

  test("sizedSession: big inputs get a clone at the sized width, the caller keeps its own") {
    val before = spark.conf.get(Width)
    val current = before.toInt
    val chunk = Conf.sizedSession(spark,
      Conf.chunkRows(TenTB, ChunkerParams.Default), Conf.ChunkRowShuffleBytes)
    assert(!(chunk eq spark))
    assert(chunk.conf.get(Width).toInt == Conf.sizeShufflePartitions(TenTB,
      Conf.expectedChunkBytes(ChunkerParams.Default), minPartitions = current))
    val rows = Conf.sizedSession(spark, RowsE11, Conf.GramRowShuffleBytes)
    assert(!(rows eq spark))
    assert(rows.conf.get(Width).toInt == Conf.sizeShufflePartitionsForRows(
      RowsE11, Conf.GramRowShuffleBytes, minPartitions = current))
    assert(rows.conf.get(Width).toInt > current)
    assert(spark.conf.get(Width) == before)
    // a caller already at or above the sized width builds in place
    val wide = spark.newSession()
    wide.conf.set(Width, "200000")
    assert(Conf.sizedSession(wide, RowsE11, Conf.GramRowShuffleBytes) eq wide)
  }

  test("sizedSession: the clone carries the caller's runtime conf and temp views") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.adaptive.enabled", "false")
    caller.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    caller.range(3).createOrReplaceTempView("sized_session_view")
    val width = caller.conf.get(Width)
    val sized = Conf.sizedSession(caller, RowsE11, Conf.GramRowShuffleBytes)
    assert(!(sized eq caller))
    assert(sized.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(sized.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles")
    assert(sized.table("sized_session_view").count() == 3)
    assert(caller.conf.get(Width) == width)
  }

  test("rebind: a cached Dataset moves into the clone, still reads its cache, and plans at each session's width") {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val caller = spark.newSession()
    caller.conf.set("spark.sql.adaptive.enabled", "false")
    caller.conf.set(Width, "3")
    val df = caller.range(1000).selectExpr("id % 7 AS k").cache()
    try {
      df.count()
      // 1e8 rows × 32 B over 64 MiB partitions → 48
      val sized = Conf.sizedSession(caller, 100L * 1000 * 1000, Conf.GramRowShuffleBytes)
      assert(sized.conf.get(Width) == "48")
      assert(GraftBridge.rebind(df, caller) eq df)
      val moved = GraftBridge.rebind(df, sized)
      assert(moved.sparkSession eq sized)
      assert(moved.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r }.isDefined)
      def widths(d: org.apache.spark.sql.DataFrame): Seq[Int] =
        d.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
      val grouped = moved.groupBy("k").count()
      assert(widths(grouped) == Seq(48))
      val back = GraftBridge.rebind(grouped, caller)
      assert(back.sparkSession eq caller)
      assert(widths(back) == Seq(3))
      assert(back.collect().map(_.getLong(1)).sum == 1000L)
    } finally df.unpersist()
  }

  test("parseByteLimit: default, zero sentinel, junk and negatives fail loudly") {
    assert(Conf.parseByteLimit("X", None, 42L) == 42L)
    assert(Conf.parseByteLimit("X", Some("0"), 42L) == 0L)
    assert(Conf.parseByteLimit("X", Some(" 1048576 "), 42L) == 1048576L)
    val e = intercept[IllegalArgumentException] {
      Conf.parseByteLimit("SPARK_GRAFT_LINES_BCAST_LIMIT", Some("128MiB"), 42L)
    }
    assert(e.getMessage.contains("SPARK_GRAFT_LINES_BCAST_LIMIT"))
    // Spark's own never-broadcast convention (-1, as in
    // autoBroadcastJoinThreshold=-1) is an accepted alias for the 0
    // force-shuffle sentinel; anything below it still fails loudly
    assert(Conf.parseByteLimit("X", Some("-1"), 42L) == 0L)
    val n = intercept[IllegalArgumentException] {
      Conf.parseByteLimit("X", Some("-2"), 42L)
    }
    assert(n.getMessage.contains("0 forces the shuffle build"))
  }

  test("totalFileBytes: batched per-parent listing matches per-file stats") {
    val dir = java.nio.file.Files.createTempDirectory("conf-bytes").toFile
    val sub = new java.io.File(dir, "sub"); sub.mkdirs()
    try {
      def put(f: java.io.File, n: Int): String = {
        java.nio.file.Files.write(f.toPath, Array.fill[Byte](n)(7))
        f.getAbsolutePath
      }
      val a = put(new java.io.File(dir, "a.bin"), 100)
      val b = put(new java.io.File(dir, "b.bin"), 250)
      val c = put(new java.io.File(sub, "c.bin"), 11) // single-file group
      // extra sibling NOT in the query set — must not leak into the sum
      put(new java.io.File(dir, "noise.bin"), 9999)
      assert(Conf.totalFileBytes(Seq(a, b, c)) == 361)
      assert(Conf.totalFileBytes(Seq(c)) == 11)
      assert(Conf.totalFileBytes(Nil) == 0)
      // missing files still fail loudly, same as the unbatched probe
      intercept[java.io.FileNotFoundException] {
        Conf.totalFileBytes(Seq(a, new java.io.File(dir, "gone").getAbsolutePath))
      }
    } finally {
      dir.listFiles().foreach { f =>
        if (f.isDirectory) f.listFiles().foreach(_.delete()); f.delete()
      }
      dir.delete()
    }
  }

  test("ChunkRowShuffleBytes is the right order for a real exchange") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Shuffle 10k ChunkRows through a repartition and read the exchange's
    // write metrics. shuffleBytesWritten counts POST-lz4 bytes
    // (spark.shuffle.compress=true by default), so the rows must be
    // incompressible for the wire measurement to reflect the uncompressed
    // 48 B UnsafeRow constant: scramble every field through splitmix-style
    // multipliers (constant/sequential columns compress ~2.5x and the r11
    // version of this spec measured 19 B/row against a 24 B floor).
    def mix(i: Long, c: Long): Long = {
      val z = (i + c) * 0x9E3779B97F4A7C15L
      val z2 = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z2 ^ (z2 >>> 27)
    }
    val rows = (0L until 10000L).map(i =>
      graft.operators.ChunkRow(mix(i, 1), mix(i, 2), mix(i, 3), mix(i, 4),
        mix(i, 5)))
    val ds = spark.createDataset(rows).repartition(8, col("hash"))
    // collect (not count): count spawns its own QueryExecution and would
    // leave THIS plan unexecuted with zeroed metrics
    assert(ds.collect().length == 10000)
    val (written, records) = findShuffleMetrics(ds.queryExecution.executedPlan)
    // the record metric verifies the extraction walked the right exchange
    assert(records == 10000, s"expected 10000 shuffle records, got $records")
    assert(written > 0, "expected shuffle write metrics")
    val perRow = written.toDouble / 10000
    assert(perRow < Conf.ChunkRowShuffleBytes * 2 &&
      perRow > Conf.ChunkRowShuffleBytes / 2.0,
      s"measured $perRow B/row vs constant ${Conf.ChunkRowShuffleBytes}")
  }

  /** (bytesWritten, recordsWritten) summed over every shuffle exchange. */
  private def findShuffleMetrics(
      p: org.apache.spark.sql.execution.SparkPlan): (Long, Long) = {
    val self = p match {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        (e.metrics.get("shuffleBytesWritten").orElse(
           e.metrics.get("bytesWritten")).map(_.value).getOrElse(0L),
         e.metrics.get("shuffleRecordsWritten").orElse(
           e.metrics.get("recordsWritten")).map(_.value).getOrElse(0L))
      case _ => (0L, 0L)
    }
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    kids.map(findShuffleMetrics).foldLeft(self) {
      case ((b, r), (kb, kr)) => (b + kb, r + kr)
    }
  }
}
