package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // verification runs persist oracle side-tables (chunk relations, LSH
    // signatures, ...) that the DuckDB oracle SQL reads back
    System.setProperty(Queries.SideTableProp, "1")
    // the dumped oracle SQL reads the side-tables written for THIS sfDir
    System.setProperty(Queries.SfBaseProp, new java.io.File(sfDir).getName)
    System.setProperty(Queries.SfDirProp,
      new java.io.File(sfDir).getAbsolutePath)
    // iteration aid: comma-separated subset filter (unset, the dump
    // covers the full catalog); an empty or unknown list exits 2 instead
    // of producing an empty (vacuously "passing") verify dump
    val only = Harness.onlyFromEnv("SPARK_GRAFT_VERIFY_ONLY", SparkEntry.queries.keySet)
    val spark = Harness.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // schema-drift tripwire: a silent testdata regeneration must at least
    // leave a named trace in the verify log (SchemaContractSpec is the
    // hard gate; this covers driver runs that never execute sbt test)
    SchemaContract.diff(spark, sfDir)
      .foreach(d => System.err.println(s"[verify] SCHEMA DRIFT: $d"))
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
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
        graft.operators.SessionCaches.scope {
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case NonFatal(e) =>
            System.err.println(s"[verify] $name failed: $e")
          }
        }
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(only))
    spark.stop()
  }

  /** oracle_sql.json for the dumped queries only: a subset run's replay
    * must not report every unselected query as a missing result.
    * Harness.str escapes ALL control chars: a tab or CR in the oracle SQL
    * would otherwise make a strict JSON reader reject the whole file.
    */
  private[graft] def oracleJson(only: Option[Set[String]]): String =
    SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${Harness.str(k)}: ${Harness.str(v)}" }
      .mkString("{", ",", "}")
}
