package graft.streaming

import graft.SparkSpec
import graft.operators.TextAnalysis

class StreamNoveltySpec extends SparkSpec {

  private def writeDocs(dir: java.nio.file.Path,
      rows: Seq[(Long, String)], name: String): Unit = {
    import spark.implicits._
    writeFlatParquet(rows.toDF("doc_id", "text"), dir, name)
  }

  test("stream finish equals the batch termNovelty relation") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"),
      (3L, "alpha beta gamma"), (4L, "delta"))
    val dir = java.nio.file.Files.createTempDirectory("snov")
    writeDocs(dir, docs, "docs.parquet")
    val got = StreamNovelty.runNoveltyOnce(spark, s"$dir/docs.parquet",
      "snov_same", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_terms"), r.getAs[Long]("n_new")))).toMap
    val want = TextAnalysis.termNovelty(docs.toDF("doc_id", "text"), "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_terms"), r.getAs[Long]("n_new")))).toMap
    assert(got == want)
    assert(got(1L) == ((2L, 2L)) && got(3L) == ((3L, 0L)) &&
      got(4L) == ((1L, 1L)))
  }

  test("word state persists across micro-batches (1 file each)") {
    // batch 2 re-uses batch 1's words: first-introduction events must NOT
    // re-fire, so doc 3 scores zero new terms — provable only if the
    // word-keyed state survived the batch boundary
    val dir = java.nio.file.Files.createTempDirectory("snovmb")
    writeDocs(dir, Seq((1L, "alpha beta"), (2L, "gamma")), "f0.parquet")
    writeDocs(dir, Seq((3L, "alpha gamma"), (4L, "delta alpha")), "f1.parquet")
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "8")
    val schema = session.read.parquet(s"$dir/f0.parquet").schema
    val stream = session.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .option("pathGlobFilter", "f*.parquet")
      .parquet(dir.toString)
    val q = StreamNovelty.firstIntroductions(stream, "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("snov_mb").start()
    try q.processAllAvailable() finally q.stop()
    val firsts = session.table("snov_mb").collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("first_id")).toMap
    assert(firsts == Map("alpha" -> 1L, "beta" -> 1L, "gamma" -> 2L,
      "delta" -> 4L),
      s"exactly one introduction per word, from its first batch: $firsts")
  }

  test("out-of-id-order arrival: improvements re-emit, fold lands on batch MIN") {
    // batch 1 carries the HIGHER ids (docs 3, 4); batch 2 the lower ones
    // (1, 2) re-using batch 1's words — the old never-revise state would
    // keep first_id 3/4 and silently corrupt the novelty relation
    val dir = java.nio.file.Files.createTempDirectory("snovooo")
    writeDocs(dir, Seq((3L, "alpha gamma"), (4L, "delta alpha")), "f0.parquet")
    writeDocs(dir, Seq((1L, "alpha beta"), (2L, "gamma")), "f1.parquet")
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "8")
    val schema = session.read.parquet(s"$dir/f0.parquet").schema
    val stream = session.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .option("pathGlobFilter", "f*.parquet")
      .parquet(dir.toString)
    val q = StreamNovelty.firstIntroductions(stream, "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("snov_ooo").start()
    try q.processAllAvailable() finally q.stop()
    val events = session.table("snov_ooo")
    // alpha improved 3 -> 1, gamma improved 3 -> 2: two events each
    val perWord = events.groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perWord("alpha") == 2L && perWord("gamma") == 2L,
      s"late smaller ids must re-emit: $perWord")
    val folded = StreamNovelty.foldFirsts(events).collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("first_id")).toMap
    assert(folded == Map("alpha" -> 1L, "beta" -> 1L, "gamma" -> 2L,
      "delta" -> 4L), s"fold must recover the batch MIN(id): $folded")
  }
}
