package graft.streaming

import graft.SparkSpec
import graft.operators.Dedupe
import org.apache.spark.sql.streaming.TestGroupState

/** The streaming span-dedup twin's contract (see [[StreamSpans]]):
  * exactness lives in emitted-events + finish fold, so the result must
  * equal the batch [[Dedupe.cutDuplicateSpans]] relation under ANY
  * arrival order and ANY suppression-cache cap — while state ROWS stay
  * bounded by the shard count (never token-linear).
  */
class StreamSpansSpec extends SparkSpec {

  private val P = "alpha beta gamma delta epsilon zeta eta theta"

  private def fixture: Seq[(Long, String)] = Seq(
    (1L, s"unique opening material here $P and a unique tail"),
    (2L, s"$P entirely different closing text of document two"),
    (3L, s"$P and then once more $P"),
    (4L, "no duplicated content in this document at all whatsoever ok"),
    (5L, "short doc"))

  private def batchCut(rows: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
    import spark.implicits._
    Dedupe.cutDuplicateSpans(rows.toDF("doc_id", "text"), "doc_id", "text",
      windowTokens = 5)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
  }

  private def collectCut(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("cut_tokens"),
          r.getAs[String]("text_cut"))))
      .toMap

  test("stream finish equals the batch cut relation") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sspan")
    writeFlatParquet(fixture.toDF("doc_id", "text"), dir, "docs.parquet")
    val got = collectCut(StreamSpans.runCutOnce(spark, s"$dir/docs.parquet",
      "sspan_same", "doc_id", windowTokens = 5))
    assert(got == batchCut(fixture))
  }

  test("streaming KMV triage equals the batch approx tier exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sspanapx")
    writeFlatParquet(fixture.toDF("doc_id", "text"), dir, "docs.parquet")
    val got = StreamSpans.runApproxOnce(spark, s"$dir/docs.parquet",
      "sspan_apx", windowTokens = 5).collect()
    // the batch tier's arithmetic from first principles: the fixture's
    // window multiset at w=5 is small, so count it sequentially
    val wins = fixture.flatMap { case (_, t) =>
      Dedupe.windowHashes(t, 5)
    }
    val total = wins.size.toLong
    val distinct = wins.distinct.size.toLong
    assert(got.length == 1)
    assert(got(0).getLong(0) === total)
    assert(got(0).getLong(1) === distinct) // below k: provably exact
    assert(got(0).getLong(2) === total - distinct)
    assert(got(0).getLong(2) > 0, "expected nonzero dup mass")
    assert(math.abs(got(0).getDouble(3) -
      (total - distinct).toDouble / total) < 1e-12)
  }

  /** Out-of-order ingest: the LATER micro-batch carries the SMALLER
    * doc_ids (the true earliest occurrences). The old design's
    * never-revised state silently kept the wrong first; the
    * suppression-cache design must re-emit the improvement and fold to
    * the exact batch answer — no id-ordered contract.
    */
  test("reverse-id-order arrival still lands on the batch cut") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sspanrev")
    val late = fixture.filter(_._1 <= 2)   // docs 1, 2 (earliest carriers)
    val early = fixture.filter(_._1 > 2)   // docs 3, 4, 5 stream FIRST
    writeFlatParquet(early.toDF("doc_id", "text"), dir, "f0.parquet")
    writeFlatParquet(late.toDF("doc_id", "text"), dir, "f1.parquet")
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "4")
    val schema = session.read.parquet(s"$dir/f0.parquet").schema
    val stream = session.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .option("pathGlobFilter", "f*.parquet")
      .parquet(dir.toString)
    val q = StreamSpans.firstWindows(stream, "doc_id", "text",
      windowTokens = 5, numShards = 4)
      .writeStream.outputMode("append").format("memory")
      .queryName("sspan_rev").start()
    try q.processAllAvailable() finally q.stop()
    val events = session.table("sspan_rev")
    // the improvement path re-emitted: ≥1 window carries two events
    val perWin = events.groupBy("wlo", "whi").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(perWin > 0, "expected re-emitted improvements for late-arriving " +
      "smaller (doc_id, pos) occurrences")
    val got = collectCut(Dedupe.cutFromFirstOccurrences(
      fixture.toDF("doc_id", "text"), "doc_id", "text", 5,
      StreamSpans.foldFirsts(events)))
    assert(got == batchCut(fixture))
  }

  /** Cap saturation: with room for almost nothing in the cache the
    * answer is unchanged (suppression is an optimization, not a
    * correctness dependency), and state ROWS stay ≤ numShards — the
    * structural proof that state is shard-bounded, not token-linear.
    */
  test("tiny suppression cap: exact answer, state rows bounded by shards") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sspancap")
    writeFlatParquet(fixture.take(3).toDF("doc_id", "text"), dir, "f0.parquet")
    writeFlatParquet(fixture.drop(3).toDF("doc_id", "text"), dir, "f1.parquet")
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "4")
    val schema = session.read.parquet(s"$dir/f0.parquet").schema
    val stream = session.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .option("pathGlobFilter", "f*.parquet")
      .parquet(dir.toString)
    val numShards = 2
    val q = StreamSpans.firstWindows(stream, "doc_id", "text",
      windowTokens = 5, numShards = numShards, maxStateWindowsPerShard = 1)
      .writeStream.outputMode("append").format("memory")
      .queryName("sspan_cap").start()
    try q.processAllAvailable() finally q.stop()
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).max
    assert(stateRows <= numShards,
      s"state rows $stateRows exceed the shard bound $numShards")
    val got = collectCut(Dedupe.cutFromFirstOccurrences(
      fixture.toDF("doc_id", "text"), "doc_id", "text", 5,
      StreamSpans.foldFirsts(session.table("sspan_cap"))))
    assert(got == batchCut(fixture))
    // zero-cap degenerate mode: every batch re-emits everything, fold
    // still exact
    val q2Name = "sspan_cap0"
    val stream2 = session.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "f*.parquet")
      .parquet(dir.toString)
    val q2 = StreamSpans.firstWindows(stream2, "doc_id", "text",
      windowTokens = 5, numShards = numShards, maxStateWindowsPerShard = 0)
      .writeStream.outputMode("append").format("memory")
      .queryName(q2Name).start()
    try q2.processAllAvailable() finally q2.stop()
    val got0 = collectCut(Dedupe.cutFromFirstOccurrences(
      fixture.toDF("doc_id", "text"), "doc_id", "text", 5,
      StreamSpans.foldFirsts(session.table(q2Name))))
    assert(got0 == batchCut(fixture))
  }

  /** The shard kernel's rules, unit-level (TestGroupState): suppression
    * of equal-or-larger occurrences, re-emission of improvements,
    * insert-up-to-cap, and the sorted-arrays invariant.
    */
  test("advanceShard: suppression, improvement, cap — unit rules") {
    def state(st: Option[StreamSpans.ShardState]) =
      TestGroupState.create[StreamSpans.ShardState](
        optionalState = st.fold(
          org.apache.spark.api.java.Optional.empty[StreamSpans.ShardState]())(
          org.apache.spark.api.java.Optional.of),
        timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
        batchProcessingTimeMs = 0L,
        eventTimeWatermarkMs =
          org.apache.spark.api.java.Optional.empty[Long](),
        hasTimedOut = false)

    // batch 1, empty state, cap 2: first-come fill tracks 30 and 10; 20
    // arrives past the cap and emits untracked; (10,9,9) is suppressed by
    // the batch overlay's better (5,1). Emissions stream lazily — state
    // flushes only once the iterator is DRAINED (asserted below).
    // whi = 0 throughout this block (the 64-bit configuration); the
    // 128-bit path is covered by the pair-identity block below.
    val s1 = state(None)
    val it1 = StreamSpans.advanceShard(Iterator(
      (30L, 0L, 7L, 3L), (10L, 0L, 5L, 1L), (20L, 0L, 6L, 2L),
      (10L, 0L, 9L, 9L)),
      s1, cap = 2)
    val out1 = it1.toSeq
    assert(out1 == Seq((30L, 0L, 7L, 3L), (10L, 0L, 5L, 1L),
      (20L, 0L, 6L, 2L)))
    val st1 = s1.get
    assert(st1.wlos.toSeq == Seq(10L, 30L) && st1.ids.toSeq == Seq(5L, 7L),
      s"cap must track the FIRST-COME windows, sorted: ${st1.wlos.toSeq}")

    // batch 2 against that state: equal → suppressed; improvement →
    // re-emitted + cached; past-cap windows (20, 40) emit EVERY
    // occurrence, the fold absorbs them
    val s2 = state(Some(st1))
    val out2 = StreamSpans.advanceShard(Iterator(
      (10L, 0L, 5L, 1L),   // identical to stored → suppressed
      (20L, 0L, 6L, 9L),   // untracked → emits (per occurrence)
      (20L, 0L, 2L, 8L),   // untracked → emits again
      (30L, 0L, 7L, 4L),   // tracked, larger pos → suppressed
      (30L, 0L, 2L, 1L),   // smaller id → improvement, re-emit + cache
      (40L, 0L, 1L, 1L)),  // new, cap full → emit, stay untracked
      s2, cap = 2).toSeq
    assert(out2 == Seq((20L, 0L, 6L, 9L), (20L, 0L, 2L, 8L),
      (30L, 0L, 2L, 1L), (40L, 0L, 1L, 1L)))
    val st2 = s2.get
    assert(st2.wlos.toSeq == Seq(10L, 30L))
    assert(st2.ids.toSeq == Seq(5L, 2L) && st2.poss.toSeq == Seq(1L, 1L),
      "improvement must update the cached occurrence")

    // pair identity: two windows SHARING wlo are distinct entries, kept
    // pair-sorted, suppressed/improved independently — the structural
    // property the 128-bit cut depends on
    val s4 = state(None)
    val out4 = StreamSpans.advanceShard(Iterator(
      (10L, 2L, 4L, 4L),   // (10,2) tracked
      (10L, 1L, 9L, 9L),   // (10,1) tracked — same wlo, different whi
      (10L, 2L, 4L, 4L),   // duplicate of (10,2)'s best → suppressed
      (10L, 1L, 3L, 3L)),  // improvement of (10,1) → re-emit
      s4, cap = 4).toSeq
    assert(out4 == Seq((10L, 2L, 4L, 4L), (10L, 1L, 9L, 9L),
      (10L, 1L, 3L, 3L)))
    val st4 = s4.get
    assert(st4.wlos.toSeq == Seq(10L, 10L) && st4.whis.toSeq == Seq(1L, 2L),
      s"entries must sort by the (wlo, whi) pair: " +
        s"${st4.wlos.toSeq.zip(st4.whis.toSeq)}")
    assert(st4.ids.toSeq == Seq(3L, 4L))

    // laziness contract: state must NOT be updated before the returned
    // iterator is drained (the engine commits on completion)
    val s3 = state(None)
    val it3 = StreamSpans.advanceShard(Iterator((50L, 0L, 1L, 1L)), s3,
      cap = 2)
    assert(!s3.isUpdated, "state flushed before the iterator was consumed")
    assert(it3.toSeq == Seq((50L, 0L, 1L, 1L)))
    assert(s3.isUpdated && s3.get.wlos.toSeq == Seq(50L))
  }

  /** 128-bit identity end to end: under an engineered TOTAL lo-collision
    * (loBits = 0 — every window's low half identical) the 64-bit stream
    * merges all windows and cuts wrongly, while the hash128 stream still
    * lands on the uncollided batch cut — the same spec discipline as the
    * batch operators' DedupeSpec hash128 block. This is what makes the
    * stream twin safe to run at the batch cut's production width.
    */
  test("hash128 stream survives total lo-collisions; 64-bit does not") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sspan128")
    writeFlatParquet(fixture.toDF("doc_id", "text"), dir, "docs.parquet")
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "4")
    val schema = session.read.parquet(s"$dir/docs.parquet").schema

    def runStream(name: String, h128: Boolean) = {
      val stream = session.readStream.schema(schema)
        .option("pathGlobFilter", "docs.parquet")
        .parquet(dir.toString)
      val q = StreamSpans.firstWindowsImpl(stream, "doc_id", "text",
        windowTokens = 5, numShards = 4, maxStateWindowsPerShard = 1 << 10,
        hash128 = h128, loBits = 0)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      session.table(name)
    }

    // 64-bit under total lo-collision: all windows share one identity —
    // the cut diverges (proves the knob bites)
    val got64 = collectCut(Dedupe.cutFromFirstOccurrencesImpl(
      fixture.toDF("doc_id", "text"), "doc_id", "text", 5,
      StreamSpans.foldFirsts(runStream("sspan128_lo", h128 = false)),
      hash128 = false, loBits = 0))
    assert(got64 != batchCut(fixture),
      "total lo-collision must corrupt the 64-bit stream cut")
    // hash128 under the same collision: the high half keeps identities
    // apart — exact batch answer
    val got128 = collectCut(Dedupe.cutFromFirstOccurrencesImpl(
      fixture.toDF("doc_id", "text"), "doc_id", "text", 5,
      StreamSpans.foldFirsts(runStream("sspan128_hi", h128 = true)),
      hash128 = true, loBits = 0))
    assert(got128 == batchCut(fixture))
  }

  test("saturated KMV across >=2 triggers: 5·rsd bound, equals single-batch union") {
    // distinct windows ≫ k, split across two files so the Complete-mode
    // cross-micro-batch sketch-MERGE path carries the saturated regime
    // (the batch estimator's saturation is pinned via the line family —
    // same KmvSketch). Every doc carries 9 id-unique words → 5 distinct
    // windows at w=5; f1 re-ships f0's texts, so total 15n windows with
    // 10n distinct.
    val n = 2000L
    val w = 5
    val k = 256
    def docsRange(lo: Long, hi: Long) =
      spark.range(lo, hi).selectExpr("id AS doc_id",
        "concat('alpha', id, ' bravo', id, ' charlie', id, ' delta', id, " +
          "' echo', id, ' foxtrot', id, ' golf', id, ' hotel', id, " +
          "' india', id) AS text")
    val f0 = docsRange(0, n)
    val f1 = docsRange(n, 2 * n)
      .unionAll(docsRange(0, n).selectExpr(s"doc_id + ${3 * n}", "text"))
    val dir = java.nio.file.Files.createTempDirectory("sspansat")
    writeFlatParquet(f0, dir, "f0.parquet")
    writeFlatParquet(f1, dir, "f1.parquet")
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "4")
    val schema = session.read.parquet(s"$dir/f0.parquet").schema
    val stream = session.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .option("pathGlobFilter", "f*.parquet")
      .parquet(dir.toString)
    val q = StreamSpans.approxAgg(stream, "text", w, k)
      .writeStream.outputMode("complete").format("memory")
      .queryName("sspan_sat").start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "the merge path needs at least two non-empty triggers")
    // streaming state is the ONE global sketch row, regardless of corpus
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).max
    assert(stateRows <= 4, s"expected one sketch state row, got $stateRows")
    val Array(got) =
      StreamSpans.approxFinish(session.table("sspan_sat")).collect()
    assert(got.getLong(0) === 15 * n) // 3n docs × 5 windows, exact
    val est = got.getLong(1)
    val truth = 10 * n
    val err = math.abs(est - truth).toDouble / truth
    val bound = 5.0 / math.sqrt(k - 1.0)
    info(f"saturated streaming span-KMV: $est (err ${err * 100}%.2f%%, " +
      f"bound ${bound * 100}%.2f%%)")
    assert(err < bound, s"estimate $est breaks the 5·rsd bound for $truth")
    // the KMV buffer depends only on the SET of values seen, so the
    // micro-batch merge must land bit-identically on the single-batch
    // run of the same kernel over the union corpus
    val Array(want) = StreamSpans.approxFinish(
      StreamSpans.approxAgg(f0.unionAll(f1), "text", w, k)).collect()
    assert(got.toSeq === want.toSeq,
      "streaming merge diverged from the single-batch union run")
  }
}
