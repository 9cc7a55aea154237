package graft.operators

import graft.SparkSpec

/** Documented behavior of the round-9 operators on degenerate inputs:
  * empty corpora return empty relations (or a well-defined metrics row),
  * and the operators that REQUIRE data fail loudly — never a silent
  * wrong answer.
  */
class EdgeInputSpec extends SparkSpec {

  private def emptyDocs = {
    import spark.implicits._
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  }

  private def emptyVecs = {
    import spark.implicits._
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
  }

  test("containmentPairs: empty corpus -> empty pairs, both paths") {
    assert(Dedupe.containmentPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedupe.containmentPairs(emptyDocs, "doc_id", "text",
      broadcastGramDfLimit = 0L).count() == 0)
    SessionCaches.release()
  }

  test("containmentPairs: null/empty texts contribute no grams, no pairs") {
    import spark.implicits._
    val docs = Seq((0L, null.asInstanceOf[String]), (1L, ""), (2L, "   "))
      .toDF("doc_id", "text")
    assert(Dedupe.containmentPairs(docs, "doc_id", "text").count() == 0)
  }

  test("containmentPairs rejects out-of-range thresholds") {
    intercept[IllegalArgumentException] {
      Dedupe.containmentPairs(emptyDocs, "doc_id", "text", thresholdBp = 0L)
    }
    intercept[IllegalArgumentException] {
      Dedupe.containmentPairs(emptyDocs, "doc_id", "text", thresholdBp = 10001L)
    }
  }

  test("minhashRecallEval: empty corpus -> zero-count metrics row, recall 10000") {
    val r = Dedupe.minhashRecallEval(emptyDocs, "doc_id", "text").head()
    assert(r.getLong(0) == 0L) // n_docs
    assert(r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L)
    assert(r.getLong(4) == 0L) // false_pos
    assert(r.getLong(5) == 10000L, "empty truth: nothing to miss")
    SessionCaches.release()
  }

  test("Pca.covStats fails loudly on an empty corpus") {
    val e = intercept[IllegalArgumentException] {
      Pca.covStats(emptyVecs, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("empty corpus"))
  }

  test("Pca.signBuckets: empty corpus -> empty; projection dim mismatch fails") {
    assert(Pca.signBuckets(emptyVecs, "vec_id", "embedding",
      Array(Array(1000000L, 0L))).count() == 0)
    import spark.implicits._
    val one = Seq((0L, Array(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Pca.project(one, "vec_id", "embedding", Array(Array(1000000L))).collect()
    }
    assert(ex.getMessage != null)
  }
}
