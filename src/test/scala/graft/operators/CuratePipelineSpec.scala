package graft.operators

import graft.SparkSpec

class CuratePipelineSpec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog and then it runs away to the hills again", "s1"),
      (1L, "the quick brown fox jumps over the lazy dog and then it runs away to the hills again", "s1"), // exact dup
      (2L, "the quick brown fox jumps over the lazy cat and then it runs away to the hills again", "s1"), // near dup
      (3L, "short", "s2"), // quality fail (too few tokens)
      (4L, "a completely different document with the plain words about engines and the data pipelines in it", "s2"))
      .toDF("doc_id", "text", "source")
  }

  test("each doc gets the right fate; report accounts for everything") {
    val annotated = CuratePipeline
      .curate(corpus, "doc_id", "text",
        CuratePipeline.CurateParams(minTokens = 8, nearDupThreshold = 0.5))
      .cache()
    val fates = annotated.select("doc_id", "fate").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fates(0L) == "kept")
    assert(fates(1L) == "exact_dup")
    assert(fates(2L) == "near_dup")
    assert(fates(3L) == "quality")
    assert(fates(4L) == "kept")
    val rep = CuratePipeline.report(annotated).collect()
    assert(rep.map(_.getLong(2)).sum == 5L, "every doc appears exactly once in the report")
    annotated.unpersist()
  }

  test("lang filter eliminates non-matching predictions") {
    import spark.implicits._
    val df = Seq(
      (0L, "the cat and the dog is in the house with it all day", "s"),
      (1L, "der hund und die katze ist nicht ein problem heute da", "s"))
      .toDF("doc_id", "text", "source")
    val annotated = CuratePipeline.curate(df, "doc_id", "text",
      CuratePipeline.CurateParams(minTokens = 2, keepLangs = Set("en")))
    val fates = annotated.select("doc_id", "fate").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fates(0L) == "kept")
    assert(fates(1L) == "lang")
  }
}
