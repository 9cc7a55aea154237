package graft.operators

import graft.SparkSpec

class ProfilerSpec extends SparkSpec {

  test("profiles nulls, distincts, and min/max per column in one relation") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("b"), 2.5),
      (2L, None, 1.5),
      (3L, Some("a"), 2.5)).toDF("id", "s", "v")
    val p = Profiler.profile(df).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(p("id") == ((3L, 0L, 3L, "1", "3")))
    assert(p("s") == ((3L, 1L, 2L, "a", "b")))
    assert(p("v") == ((3L, 0L, 2L, "1.5", "2.5")))
  }

  test("approx mode returns the same shape with sane cardinalities") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i.toLong, s"k${i % 10}")).toDF("id", "k")
    val p = Profiler.profile(df, exactDistinct = false).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(math.abs(p("id") - 1000L) < 100L)
    assert(p("k") >= 9L && p("k") <= 11L)
    assertThrows[IllegalArgumentException](
      Profiler.profile(df.select()))
  }

  test("column names with dots survive (no nested-field path parsing)") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("a.b", "plain")
    val p = Profiler.profile(df).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(p == Map("a.b" -> 2L, "plain" -> 2L))
  }

  test("profiling runs as a single aggregation job (no per-column scans)") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, s"s$i", i * 0.5)).toDF("a", "b", "c")
    val plan = Profiler.profile(df, exactDistinct = false)
      .queryExecution.executedPlan.toString
    // one scan of the input; approx mode keeps it a plain two-phase agg
    assert(plan.linesIterator.count(_.contains("LocalTableScan")) <= 1, plan)
  }
}
