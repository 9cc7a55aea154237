package graft.operators

import graft.SparkSpec

class BoilerplateSpec extends SparkSpec {

  test("cross-document passages are removed; unique text survives in order") {
    import spark.implicits._
    // width 3: doc 1 = [shared legal header] [unique alpha one] [unique alpha two]
    //          doc 2 = [shared legal header] [other body text]
    val df = Seq(
      (1L, "shared legal header unique alpha one unique alpha two"),
      (2L, "shared legal header other body text")
    ).toDF("doc_id", "text")
    val r = Boilerplate.removeBoilerplate(df, "doc_id", "text", width = 3)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getString(4))).toMap
    assert(r(1L) == ((3L, 1L, "unique alpha one unique alpha two")))
    assert(r(2L) == ((2L, 1L, "other body text")))
  }

  test("within-document repetition is NOT boilerplate (df counts distinct docs)") {
    import spark.implicits._
    val df = Seq(
      (1L, "again and again again and again"), // same passage twice, one doc
      (2L, "completely different words here now")
    ).toDF("doc_id", "text")
    val r = Boilerplate.removeBoilerplate(df, "doc_id", "text", width = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r(1L) == 0L, "df=1 passage repeated within one doc is kept")
  }

  test("fully-boilerplate doc yields empty clean_text; empty docs absent") {
    import spark.implicits._
    val df = Seq(
      (1L, "same text everywhere"),
      (2L, "same text everywhere"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = Boilerplate.removeBoilerplate(df, "doc_id", "text", width = 3)
    val r = out.collect().map(x => x.getLong(0) -> (x.getDouble(3), x.getString(4))).toMap
    assert(r(1L) == ((1.0, "")))
    assert(r(2L) == ((1.0, "")))
    assert(!r.contains(3L))
    // maxDocFreq 2 tolerates pairs
    val tolerant = Boilerplate.removeBoilerplate(df, "doc_id", "text",
      width = 3, maxDocFreq = 2L)
      .collect().map(x => x.getLong(0) -> x.getString(4)).toMap
    assert(tolerant(1L) == "same text everywhere")
  }

  test("short tail passage is kept and counted") {
    import spark.implicits._
    val df = Seq((1L, "one two three four")).toDF("doc_id", "text")
    val r = Boilerplate.removeBoilerplate(df, "doc_id", "text", width = 3).head()
    assert(r.getLong(1) == 2L) // [one two three] [four]
    assert(r.getString(4) == "one two three four")
  }
}
