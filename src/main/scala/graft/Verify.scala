package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // verification runs persist oracle side-tables (chunk relations, LSH
    // signatures, ...) that the DuckDB oracle SQL reads back
    System.setProperty(Queries.SideTableProp, "1")
    // a typo'd env knob must abort NOW: the per-query catch below would
    // otherwise swallow the lazy resolution failure per stream_*
    // query and dump a silently incomplete correctness run
    graft.streaming.StateBackend.forceResolve()
    graft.streaming.EventStream.forceResolveSink()
    // the dumped oracle SQL reads the side-tables written for THIS sfDir
    System.setProperty(Queries.SfBaseProp, new java.io.File(sfDir).getName)
    System.setProperty(Queries.SfDirProp,
      new java.io.File(sfDir).getAbsolutePath)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // backward compat: pre-2026-08 testdata shipped events.ts as
      // TIMESTAMP(NANOS), which Spark 4 rejects unless read as long; the
      // current TIMESTAMP(MICROS) layout is unaffected by this flag and
      // both are handled adaptively by graft.Events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // schema-drift tripwire: a silent testdata regeneration must at least
    // leave a named trace in the verify log (SchemaContractSpec is the
    // hard gate; this covers driver runs that never execute sbt test)
    SchemaContract.diff(spark, sfDir)
      .foreach(d => System.err.println(s"[verify] SCHEMA DRIFT: $d"))
    // builder-side iteration aid: comma-separated subset filter (the
    // driver never sets it, so driver runs always dump the full catalog)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { s =>
      // a typo must fail loudly, not silently select zero queries and
      // produce an empty (vacuously "passing") verify dump
      val unknown = s.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty) {
        System.err.println(
          s"[verify] unknown SPARK_GRAFT_VERIFY_ONLY names: ${unknown.toSeq.sorted.mkString(", ")}")
        spark.stop()
        sys.exit(2)
      }
    }
    val selected = only match {
      case Some(s) => SparkEntry.queries.view.filterKeys(s).toMap
      case None    => SparkEntry.queries
    }
    // the KMV triage oracles assume the sketch's exact (< k) regime;
    // make a verification SF outgrowing it a loud error instead of an
    // unexplained hash mismatch. A thread-scoped bracket, not a global:
    // Bench/ScaleRun (which deliberately saturate at the 100× tier) and
    // concurrently running suites can never inherit the guard.
    TextQueries.withKmvOracleGuard {
      selected.foreach { case (name, fn) =>
        // cache hygiene: operators that return materialized relations
        // (hammingPairs) register them; the bracket releases after the
        // write consumes the result — otherwise a full catalog run would
        // carry one cached RDD per call (the registry bound would evict
        // eventually, but deterministic scoping beats eviction here)
        graft.operators.Dedupe.withTrackedCaches {
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
