package graft.streaming

import graft.SparkSpec

class StreamMergeSpec extends SparkSpec {
  import spark.implicits._

  test("runMergeOnce equals the batch MergeApply fold") {
    val dir = java.nio.file.Files.createTempDirectory("smrg")
    val changes = Seq(
      (1L, 1L, "U", "one-v1", "s"),
      (1L, 2L, "U", "one-v2", "s"),   // shadows v1
      (2L, 1L, "D", null, null),
      (5L, 1L, "U", "five", "s"))     // insert
      .toDF("doc_id", "seq", "op", "text", "source")
    writeFlatParquet(changes, dir, "ch.parquet")
    val snap = Seq((1L, "one", "a"), (2L, "two", "a"), (3L, "three", "b"))
      .toDF("doc_id", "text", "source")
    val got = StreamMerge.runMergeOnce(spark, s"$dir/ch.parquet", "smrg_q",
        identity, snap, "doc_id", Seq("text", "source"))
      .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
    val want = graft.operators.MergeApply
      .merge(snap, changes, "doc_id", Seq("text", "source"))
      .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
    assert(got == want)
    assert(got == Seq((1L, "one-v2", "s"), (3L, "three", "b"), (5L, "five", "s")))
  }

  test("payload columns are generic — a non-(text,source) changelog merges") {
    val dir = java.nio.file.Files.createTempDirectory("smrgp")
    val changes = Seq((1L, 1L, "U", 42L), (3L, 1L, "D", 0L), (9L, 1L, "U", 7L))
      .toDF("k", "seq", "op", "value")
    writeFlatParquet(changes, dir, "ch.parquet")
    val snap = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "value")
    val got = StreamMerge.runMergeOnce(spark, s"$dir/ch.parquet", "smrgp_q",
        identity, snap, "k", Seq("value"))
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 42L), (2L, 20L), (9L, 7L)))
  }

  test("payload fidelity: double, binary, and null columns survive the packing") {
    // adversarial payloads for the stateful packing: doubles whose decimal
    // round-trip is historically lossy (0.1+0.2, the smallest subnormal,
    // -0.0, NaN), raw binary (would need base64 under a JSON packing),
    // and nulls in every payload column — the Row-encoder packing must
    // hand all of them through BIT-exactly
    val dir = java.nio.file.Files.createTempDirectory("smrgf")
    val changes = Seq(
      (1L, 1L, "U", 0.1 + 0.2, Array[Byte](0, 1, -128, 127), "x"),
      (2L, 1L, "U", Double.NaN, null.asInstanceOf[Array[Byte]],
        null.asInstanceOf[String]),
      (3L, 1L, "U", java.lang.Double.MIN_VALUE, Array.emptyByteArray, "y"),
      (9L, 1L, "U", -0.0, Array[Byte](-1), "z"))
      .toDF("k", "seq", "op", "d", "b", "s")
    writeFlatParquet(changes, dir, "ch.parquet")
    val snap = Seq((1L, 1.5, Array[Byte](9), "old"), (4L, 2.5, Array[Byte](8), "keep"))
      .toDF("k", "d", "b", "s")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("k").collect().toSeq
      .map { r =>
        (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
          Option(r.getAs[Array[Byte]](2)).map(_.toSeq),
          Option(r.getAs[String](3)))
      }
    val got = rows(StreamMerge.runMergeOnce(spark, s"$dir/ch.parquet", "smrgf_q",
      identity, snap, "k", Seq("d", "b", "s")))
    val want = rows(graft.operators.MergeApply
      .merge(snap, changes, "k", Seq("d", "b", "s")))
    assert(got == want)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    assert(got == Seq(
      (1L, bits(0.1 + 0.2), Some(Seq[Byte](0, 1, -128, 127)), Some("x")),
      (2L, bits(Double.NaN), None, None),
      (3L, bits(java.lang.Double.MIN_VALUE), Some(Seq.empty[Byte]), Some("y")),
      (4L, bits(2.5), Some(Seq[Byte](8)), Some("keep")),
      (9L, bits(-0.0), Some(Seq[Byte](-1)), Some("z"))))
  }

  test("opCol/seqCol are parameterized — renamed op/seq columns stream") {
    // the batch MergeApply exposes opCol/seqCol; a changelog using e.g.
    // (version, action) must work identically in the streaming twin
    val dir = java.nio.file.Files.createTempDirectory("smrgr")
    val changes = Seq(
      (1L, 1L, "U", 42L), (1L, 2L, "U", 43L), (3L, 1L, "D", 0L),
      (9L, 1L, "U", 7L))
      .toDF("k", "version", "action", "value")
    writeFlatParquet(changes, dir, "ch.parquet")
    val snap = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "value")
    val got = StreamMerge.runMergeOnce(spark, s"$dir/ch.parquet", "smrgr_q",
        identity, snap, "k", Seq("value"), opCol = "action", seqCol = "version")
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 43L), (2L, 20L), (9L, 7L)))
  }

  test("state carries across micro-batches; stale seqs never regress") {
    // three files, one per micro-batch: key 1 upserted in batch 1 (seq 5),
    // a STALE seq-3 change arrives in batch 2 (must not emit), a fresh
    // seq-9 in batch 3 wins; key 2 deleted in batch 2 after batch 1's
    // upsert
    val dir = java.nio.file.Files.createTempDirectory("smrgmb")
    def w(rows: Seq[(Long, Long, String, String, String)], name: String): Unit =
      writeFlatParquet(rows.toDF("doc_id", "seq", "op", "text", "source"),
        dir, name)
    w(Seq((1L, 5L, "U", "v5", "s"), (2L, 1L, "U", "two-new", "s")), "f0.parquet")
    w(Seq((1L, 3L, "U", "v3-stale", "s"), (2L, 2L, "D", null, null)), "f1.parquet")
    w(Seq((1L, 9L, "U", "v9", "s")), "f2.parquet")
    // FileStreamSource orders pending files by modification time; files
    // written back-to-back can share a coarse-granularity mtime, which
    // would let f1 process before f0 — pin strictly increasing mtimes
    Seq("f0.parquet", "f1.parquet", "f2.parquet").zipWithIndex.foreach {
      case (n, i) => java.nio.file.Files.setLastModifiedTime(
        dir.resolve(n),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }

    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "8")
    val schema = session.read.parquet(s"$dir/f0.parquet").schema
    val stream = session.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .option("pathGlobFilter", "f*.parquet")
      .parquet(dir.toString)
    val q = StreamMerge.latestChanges(stream, "doc_id", Seq("text", "source"))
      .writeStream.outputMode("append").format("memory").queryName("smrg_mb")
      .start()
    try q.processAllAvailable() finally q.stop()
    val events = session.table("smrg_mb")
      .as[(Long, Long, String, String, String)].collect().toSeq.sorted
    // key 1: seq 5 then seq 9 emitted, stale seq 3 suppressed by state;
    // key 2: seq 1 upsert then seq 2 delete both emitted
    assert(events == Seq(
      (1L, 5L, "U", "v5", "s"), (1L, 9L, "U", "v9", "s"),
      (2L, 1L, "U", "two-new", "s"), (2L, 2L, "D", null, null)))
  }
}
