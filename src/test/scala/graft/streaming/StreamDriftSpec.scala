package graft.streaming

import graft.SparkSpec
import graft.operators.DriftStats
import org.apache.spark.sql.functions._

class StreamDriftSpec extends SparkSpec {

  private def writeFlat(dir: java.nio.file.Path,
      rows: Seq[(Long, String)], name: String): Unit = {
    import spark.implicits._
    writeFlatParquet(rows.toDF("doc_id", "text"), dir, name)
  }

  test("streamed histogram drifts identically to the batch computation") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sdrift")
    val docs = (0L until 200L).map(id => (id, "x" * (id % 90).toInt))
    writeFlat(dir, docs, "docs.parquet")
    val ref = docs.toDF("doc_id", "text")
    val got = StreamDrift.runDriftOnce(spark, s"$dir/docs.parquet",
      "sd_same", ref, octet_length(col("text")), octet_length(col("text")),
      bucketWidth = 10L, nBuckets = 8)
      .collect().map(r => r.getAs[Long]("bucket") -> r).toMap
    val want = DriftStats.histogramDrift(ref, octet_length(col("text")),
      ref, octet_length(col("text")), 10L, 8)
      .collect().map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (b, r) =>
      assert(r.getAs[Long]("old_n") == want(b).getAs[Long]("old_n"))
      assert(r.getAs[Long]("new_n") == want(b).getAs[Long]("new_n"))
      assert(r.getAs[Double]("abs_drift") == want(b).getAs[Double]("abs_drift"))
    }
  }

  test("state-store counts accumulate across micro-batches (1 file each)") {
    // three files, one per micro-batch: every file holds bucket-0 AND
    // bucket-1 rows, so the final per-bucket counts can only be right if
    // the complete-mode aggregation MERGED all three batches' partials
    val dir = java.nio.file.Files.createTempDirectory("sdriftmb")
    writeFlat(dir, Seq((0L, "aa"), (1L, "x" * 15)), "f0.parquet")
    writeFlat(dir, Seq((2L, "bb"), (3L, "x" * 12)), "f1.parquet")
    writeFlat(dir, Seq((4L, "cc")), "f2.parquet")

    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "8")
    val schema = session.read.parquet(s"$dir/f0.parquet").schema
    val stream = session.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .option("pathGlobFilter", "f*.parquet")
      .parquet(dir.toString)
    val q = StreamDrift.liveHistogram(stream, octet_length(col("text")),
      10L, 4, "new_n")
      .writeStream.outputMode("complete").format("memory")
      .queryName("sd_mb").start()
    try q.processAllAvailable() finally q.stop()
    val hist = session.table("sd_mb").collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("new_n")).toMap
    assert(hist == Map(0L -> 3L, 1L -> 2L),
      s"cross-batch merged histogram expected, got $hist")
  }
}
