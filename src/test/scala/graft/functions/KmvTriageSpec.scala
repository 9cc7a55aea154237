package graft.functions

import graft.SparkSpec
import graft.operators.Dedupe
import org.apache.spark.sql.functions._

class KmvTriageSpec extends SparkSpec {

  test("per-source triage equals the corpus triage restricted to one source") {
    import spark.implicits._
    val p = "alpha beta gamma delta epsilon zeta eta theta"
    // source a repeats P within itself; source b carries P once (a
    // cross-source copy, which is no WITHIN-source duplication) and
    // repeats its own passage
    val q = "one two three four five six seven eight"
    val corpus = Seq(
      (1L, "a", s"$p leading"),
      (2L, "a", s"$p totally different tail of document"),
      (3L, "a", "short doc"),
      (4L, "b", s"$p and then $q"),
      (5L, "b", s"$q again here"),
      (6L, "b", ""))
      .toDF("doc_id", "source", "text")
    val bySource = Dedupe.approxDuplicateSpans(corpus, "text", windowTokens = 5,
      k = KmvSketch.SourceTriageK, groupCol = Some("source"))
    assert(bySource.columns.toSeq == Seq("source", "total_windows",
      "kmv_distinct_windows", "dup_windows", "dup_fraction"))
    val rows = bySource.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(rows.keySet == Set("a", "b"))
    for (src <- Seq("a", "b")) {
      val Array(alone) = Dedupe.approxDuplicateSpans(
        corpus.filter(col("source") === src), "text", windowTokens = 5,
        k = KmvSketch.SourceTriageK).collect()
      assert(rows(src) == alone.toSeq, s"source $src")
      assert(alone.getLong(2) > 0, s"source $src should carry duplication")
    }
    // the corpus-wide triage also sees the cross-source copy of P
    val Array(all) = Dedupe.approxDuplicateSpans(corpus, "text",
      windowTokens = 5).collect()
    assert(all.getLong(0) == rows.values.map(_.head.asInstanceOf[Long]).sum)
    assert(all.getLong(2) > rows.values.map(_(2).asInstanceOf[Long]).sum)
  }

  test("an empty input triages to zeros, not a division by zero") {
    import spark.implicits._
    val empty = Seq.empty[Long].toDF("h")
    val Array(r) = KmvTriage.run(empty, "h", "items", k = 1024).collect()
    assert(r.toSeq == Seq(0L, 0L, 0L, 0.0))
  }
}
