package graft.operators

import graft.SparkSpec

class TextSearchSpec extends SparkSpec {

  test("ranks by term frequency and rarity; zero-hit docs excluded") {
    import spark.implicits._
    val docs = Seq(
      (1L, "cat cat cat dog"),   // heavy on 'cat'
      (2L, "cat dog"),           // one of each
      (3L, "dog dog dog dog"),   // only 'dog' (common term)
      (4L, "bird bird")          // no query terms
    ).toDF("doc_id", "text")
    val r = TextSearch.bm25TopK(docs, "doc_id", "text", Seq("cat", "dog"))
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getLong(2)))
    assert(r.map(_._1).toSet == Set(1L, 2L, 3L))
    // equal doc lengths would make this trivial; here doc 1 still wins via
    // tf on the rarer term
    assert(r.head._1 == 1L)
    assert(r.forall(_._3 > 0))
  }

  test("more occurrences of a term never lower the score (same length docs)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x x x pad pad pad"),
      (2L, "x x pad pad pad pad"),
      (3L, "x pad pad pad pad pad")).toDF("doc_id", "text")
    val r = TextSearch.bm25TopK(docs, "doc_id", "text", Seq("x"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) > r(2L) && r(2L) > r(3L))
  }

  test("validations and null-text tolerance") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assertThrows[IllegalArgumentException](
      TextSearch.bm25TopK(docs, "doc_id", "text", Seq.empty))
    assertThrows[IllegalArgumentException](
      TextSearch.bm25TopK(docs, "doc_id", "text", Seq("a", "a")))
    assertThrows[IllegalArgumentException](
      TextSearch.bm25TopK(docs, "doc_id", "text", Seq("a"), topK = 0))
    val r = TextSearch.bm25TopK(docs, "doc_id", "text", Seq("a")).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("the plan is a narrow scan plus top-k (TakeOrderedAndProject, no full sort)") {
    import spark.implicits._
    val docs = (0L until 500L).map(i => (i, s"w${i % 7} filler")).toDF("doc_id", "text")
    val plan = TextSearch.bm25TopK(docs, "doc_id", "text", Seq("w1"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }
}
