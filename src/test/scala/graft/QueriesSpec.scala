package graft

/** Smoke coverage for the full catalog: every query must run and return a
  * schema at sf0.001; oracle-backed queries additionally return rows
  * (deep value checks are the external differential-replay harness's
  * DuckDB compare).
  */
class QueriesSpec extends SparkSpec {

  test("every catalog query runs — and oracle-backed ones return rows — at sf0.001") {
    // ONE catalog sweep, not two (this suite alone was 17.5 of the
    // driver-killed 38-minute r20 suite wall: the old "every query runs"
    // and "oracle-backed return rows" tests each ran all 177 queries).
    // Each query is independent, so a small thread pool overlaps their
    // scheduling/floor gaps (guide §2.6) — Spark's scheduler runs
    // concurrent actions fine, and the shared session caches are
    // computeIfAbsent-safe. 6 in flight fills the tail without starving
    // the 4-core test session.
    val oracled = Queries.oracles.keySet
    // no query may write the session it runs on: operators build their
    // input-sized exchanges in a sized session (Conf.sizedSession), so
    // the whole runtime conf must read the same after 6 queries in flight
    val confBefore = spark.conf.getAll
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futures = Queries.all.toSeq.sortBy(_._1).map { case (name, fn) =>
      scala.concurrent.Future {
        try {
          val n = fn(spark, sf()).count()
          if (oracled(name) && n == 0) Some(s"$name: oracle-backed but returned 0 rows")
          else None
        } catch {
          case e: Throwable => Some(s"$name: ${e.getMessage}")
        }
      }
    }
    val failures =
      try futures.flatMap(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      finally pool.shutdown()
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(spark.conf.getAll == confBefore)
  }

  test("oracle keys are a subset of query keys") {
    val missing = Queries.oracles.keySet -- Queries.all.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("EVERY catalog query is oracled — the gate must not silently weaken") {
    // the driver downgrades oracle-less queries to a rows-only check;
    // the catalog's standing contract is full cross-engine verification,
    // so a new query without an oracle fails HERE, not in a judge table
    val unoracled = Queries.all.keySet -- Queries.oracles.keySet
    assert(unoracled.isEmpty,
      s"queries without a DuckDB oracle: ${unoracled.toSeq.sorted.mkString(", ")}")
  }
}
