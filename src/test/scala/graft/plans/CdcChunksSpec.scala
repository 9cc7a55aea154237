package graft.plans

import graft.SparkSpec
import graft.cdc.{ChunkerParams, ChunkerSpec}
import org.apache.spark.sql.functions._

class CdcChunksSpec extends SparkSpec {

  private def randomBytes(n: Int, seed: Long): Array[Byte] = {
    val r = new java.util.Random(seed)
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }

  test("generator expression matches the kernel chunker exactly") {
    import spark.implicits._
    val payload = randomBytes(300000, 1L)
    val df = Seq((1L, payload)).toDF("id", "content")
    val rows = df
      .select(col("id"), CdcChunks.cdc_chunks(col("content")))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = ChunkerSpec
      .referenceStats(payload, ChunkerParams.Default)
      .zipWithIndex
      .map { case ((hash, size, _), i) => (i.toLong, hash, size.toLong) }
    assert(rows.map(r => (r._1, r._2)).toSeq == expected.map(e => (e._1, e._2)))
    assert(rows.map(_._3).sum == payload.length.toLong)
  }

  test("SQL surface: LATERAL VIEW cdc_chunks") {
    import spark.implicits._
    CdcChunks.register(spark)
    Seq((1L, randomBytes(100000, 2L)), (2L, randomBytes(100000, 2L)))
      .toDF("id", "content")
      .createOrReplaceTempView("blobs")
    val out = spark.sql(
      """SELECT id, c.chunk_idx, c.hash, c.size
        |FROM blobs LATERAL VIEW cdc_chunks(content) c""".stripMargin)
    val byId = out.collect().groupBy(_.getLong(0))
    assert(byId(1L).map(_.getLong(2)).toSeq == byId(2L).map(_.getLong(2)).toSeq,
      "identical blobs must produce identical chunk hash streams")
  }

  test("null/empty input yields no rows; non-binary input rejected") {
    import spark.implicits._
    val df = Seq((1L, Array.emptyByteArray), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "content")
    assert(df.select(CdcChunks.cdc_chunks(col("content"))).count() == 0)
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1L, "nope")).toDF("id", "content")
        .select(CdcChunks.cdc_chunks(col("content"))).collect()
    }
  }
}
