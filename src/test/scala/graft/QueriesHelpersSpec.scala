package graft


/** Driver-side helpers behind the catalog: footer-metadata row counts. */
class QueriesHelpersSpec extends SparkSpec {

  test("parquetRowCount: file and directory agree with df.count, hidden files skipped") {
    val file = s"${sf()}/orders.parquet"
    val expected = spark.read.parquet(file).count()
    assert(Queries.parquetRowCount(spark, file) == expected)
    // directory of part-files, plus a hidden file Spark's index would skip
    val dir = java.nio.file.Files.createTempDirectory("rowcount")
    spark.read.parquet(file).repartition(3).write.mode("overwrite")
      .parquet(dir.toString)
    val hidden = dir.resolve("_stray_copy.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(file), hidden,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(Queries.parquetRowCount(spark, dir.toString) == expected,
      "hidden '_'-prefixed files must not count (Spark file-index semantics)")
    // no data files at all -> loud failure, never a silent zero
    val empty = java.nio.file.Files.createTempDirectory("rowcount-empty")
    intercept[IllegalArgumentException](
      Queries.parquetRowCount(spark, empty.toString))
  }
}
