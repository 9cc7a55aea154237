package graft.tools

/** Dev smoke runner mirroring the driver's t1 check: run SparkEntry.entry
  * in a forked JVM and assert rows > 0. `sbt "runMain graft.tools.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session("graft-smoke",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions")
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(20, truncate = false)
    println(s"SMOKE entry rows=$n ${if (n > 0) "OK" else "FAIL"}")
    // extension-registered SQL surface: cdc_chunks via spark.sql.extensions
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "encode(text, 'UTF-8') AS payload")
      .createOrReplaceTempView("smoke_blobs")
    val chunkRows = spark
      .sql("SELECT doc_id, c.hash FROM smoke_blobs LATERAL VIEW cdc_chunks(payload) c")
      .count()
    println(s"SMOKE cdc_chunks-via-extensions rows=$chunkRows ${if (chunkRows > 0) "OK" else "FAIL"}")
    spark.stop()
    if (n == 0 || chunkRows == 0) sys.exit(1)
  }
}
