package graft.streaming

import graft.SparkSpec
import graft.operators.LineDedupe

/** The streaming line-dedup twin's contract (see [[StreamLines]]): the
  * finish must equal the batch [[LineDedupe.cutDuplicateLines]] relation
  * under ANY arrival order and ANY suppression-cache cap, with state
  * ROWS bounded by the shard count. The shard kernel's unit rules are
  * pinned in StreamSpansSpec — the kernel is shared verbatim; this spec
  * covers the line-specific substrate (eligibility, hashed identity,
  * rebuild finish).
  */
class StreamLinesSpec extends SparkSpec {

  private val header = "subscribe to our weekly newsletter today"
  private val footer = "copyright twenty twenty six all rights reserved"

  private def fixture: Seq[(Long, String)] = Seq(
    (1L, s"$header\nunique first body line\n$footer"),
    (2L, s"$header\nsecond document body text\n$footer"),
    (3L, s"ok\n--\n$header\nthird document distinct material"),
    (4L, "no boilerplate anywhere in here\nat all"),
    (5L, ""))

  private def batchCut(rows: Seq[(Long, String)]): Map[Long, (Long, Long, Long, String)] = {
    import spark.implicits._
    LineDedupe.cutDuplicateLines(rows.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
  }

  private def collectCut(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_dropped"),
          r.getAs[Long]("chars_dropped"), r.getAs[String]("text_clean"))))
      .toMap

  test("stream finish equals the batch line cut") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sline")
    writeFlatParquet(fixture.toDF("doc_id", "text"), dir, "docs.parquet")
    val got = collectCut(StreamLines.runCutOnce(spark, s"$dir/docs.parquet",
      "sline_same", "doc_id"))
    assert(got == batchCut(fixture))
    // and the cut is non-trivial on this fixture
    assert(got(2L)._2 == 2L, s"doc 2 should lose header+footer: $got")
  }

  test("streaming KMV triage equals the batch approx tier exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("slineapx")
    writeFlatParquet(fixture.toDF("doc_id", "text"), dir, "docs.parquet")
    val got = StreamLines.runApproxOnce(spark, s"$dir/docs.parquet",
      "sline_apx").collect()
    val want = LineDedupe.approxDuplicateLines(
      fixture.toDF("doc_id", "text"), "text").collect()
    // both twins below k: provably exact, so byte-identical rows
    assert(got.toSeq == want.toSeq, s"got ${got.toSeq} want ${want.toSeq}")
    // and non-trivial: this fixture HAS duplicated boilerplate
    assert(got(0).getLong(2) > 0, "expected nonzero dup mass")
  }

  test("reverse-id-order arrival still lands on the batch cut") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("slinerev")
    // the LATER micro-batch carries the SMALLER doc_ids (true earliest)
    writeFlatParquet(fixture.filter(_._1 > 2).toDF("doc_id", "text"),
      dir, "f0.parquet")
    writeFlatParquet(fixture.filter(_._1 <= 2).toDF("doc_id", "text"),
      dir, "f1.parquet")
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "4")
    val schema = session.read.parquet(s"$dir/f0.parquet").schema
    val stream = session.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .option("pathGlobFilter", "f*.parquet")
      .parquet(dir.toString)
    val q = StreamLines.firstLines(stream, "doc_id", "text", numShards = 4)
      .writeStream.outputMode("append").format("memory")
      .queryName("sline_rev").start()
    try q.processAllAvailable() finally q.stop()
    val events = session.table("sline_rev")
    // the improvement path re-emitted: the header's first occurrence
    // (doc 1) arrived after doc 3's copy
    val perLine = events.groupBy("llo", "lhi").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(perLine > 0, "expected re-emitted improvements for " +
      "late-arriving smaller (doc_id, ord) occurrences")
    val got = collectCut(LineDedupe.cutFromFirstLines(
      fixture.toDF("doc_id", "text"), "doc_id", "text", 10,
      StreamLines.foldFirsts(events)))
    assert(got == batchCut(fixture))
  }

  test("tiny suppression cap: exact answer, state rows bounded by shards") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("slinecap")
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
    val q = StreamLines.firstLines(stream, "doc_id", "text",
      numShards = numShards, maxStateLinesPerShard = 1)
      .writeStream.outputMode("append").format("memory")
      .queryName("sline_cap").start()
    try q.processAllAvailable() finally q.stop()
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).max
    assert(stateRows <= numShards,
      s"state rows $stateRows exceed the shard bound $numShards")
    val got = collectCut(LineDedupe.cutFromFirstLines(
      fixture.toDF("doc_id", "text"), "doc_id", "text", 10,
      StreamLines.foldFirsts(session.table("sline_cap"))))
    assert(got == batchCut(fixture))
  }

  test("saturated KMV across >=2 triggers: 5·rsd bound, equals single-batch union") {
    // distinct eligible lines ≫ k, split across two files so the
    // Complete-mode cross-micro-batch sketch-MERGE path (not just the
    // batch estimator's partial-agg merge, pinned in LineDedupeSpec)
    // carries the saturated regime. f1 re-ships f0's lines under new
    // doc ids, so the dup mass is real and known: total 3n, distinct 2n.
    val n = 20000L
    val k = 1024
    def docsRange(lo: Long, hi: Long, tagBase: Long) =
      spark.range(lo, hi).selectExpr(
        s"id + $tagBase AS doc_id",
        "concat('distinct streaming boilerplate line number ', id) AS text")
    val f0 = docsRange(0, n, 0)
    val f1 = docsRange(n, 2 * n, 0).unionAll(docsRange(0, n, 3 * n))
    val dir = java.nio.file.Files.createTempDirectory("slinesat")
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
    val q = StreamLines.approxAgg(stream, "text", 10, k)
      .writeStream.outputMode("complete").format("memory")
      .queryName("sline_sat").start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "the merge path needs at least two non-empty triggers")
    // streaming state is the ONE global sketch row, regardless of corpus
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).max
    assert(stateRows <= 4, s"expected one sketch state row, got $stateRows")
    val Array(got) =
      StreamLines.approxFinish(session.table("sline_sat")).collect()
    assert(got.getLong(0) === 3 * n)
    val est = got.getLong(1)
    val err = math.abs(est - 2 * n).toDouble / (2 * n)
    val bound = 5.0 / math.sqrt(k - 1.0)
    info(f"saturated streaming line-KMV: $est (err ${err * 100}%.2f%%, " +
      f"bound ${bound * 100}%.2f%%)")
    assert(err < bound, s"estimate $est breaks the 5·rsd bound for ${2 * n}")
    // the KMV buffer depends only on the SET of values seen, so the
    // micro-batch merge must land bit-identically on the single-batch
    // estimate over the union corpus — same rows, not just same ballpark
    val Array(want) = LineDedupe.approxDuplicateLines(
      f0.unionAll(f1), "text", k = k).collect()
    assert(got.toSeq === want.toSeq,
      s"streaming merge diverged from the single-batch union run")
  }
}
