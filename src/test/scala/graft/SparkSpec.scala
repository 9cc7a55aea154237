package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session; Spark's
  * getOrCreate makes cross-suite reuse safe and fast).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Write `df` as a FLAT single parquet file at dir/name — the driver
    * testdata layout, which the streaming harness's file-name glob and
    * the chunkers' plain-file readers require (a directory-shaped
    * name.parquet would stream empty / fail to open).
    */
  def writeFlatParquet(df: org.apache.spark.sql.DataFrame,
      dir: java.nio.file.Path, name: String): Unit =
    Harness.writeSingleFile(df, dir.toString, name)
}

object SparkSpec {
  lazy val session: SparkSession = {
    // per-JVM warehouse dir: test suites run in several concurrently
    // forked JVMs, and the bucketed-table queries (q15) write real files
    // under the warehouse — a SHARED ./spark-warehouse races across
    // processes (one JVM's fresh-location delete yanks files another
    // JVM's scan is reading). A temp dir per JVM isolates them; it is
    // tiny (sf0.001 projections) and reclaimed on JVM exit.
    val wh = java.nio.file.Files.createTempDirectory("graft-test-warehouse")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try Harness.deleteRecursively(wh)
      catch { case scala.util.control.NonFatal(_) => () }
    }, "graft-test-warehouse-purge"))
    // local[4] whatever SPARK_GRAFT_CPUS says: the forks' processor
    // budget (build.sbt) is sized for four-core sessions
    Harness.sessionAt(4, "graft-test", Seq("spark.sql.warehouse.dir" -> wh.toString))
  }
}
