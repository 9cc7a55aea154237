package graft.sources

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path, Paths}

/** Format writers mirroring the reference's write grid (reference:
  * de/formats.py). Each writer materializes a table under
  * `directory/group/format/name.<ext>` (the reference's path scheme,
  * de/tests/test_estimate.py:71-78) and returns the written data-file
  * paths for the estimator.
  *
  * Spark writes directories of part-files; `singleFile = true` (default at
  * test scale) coalesces to one part and moves it to the exact target path
  * so the estimator sees one file per table like the reference. At cluster
  * scale, pass `singleFile = false` and feed the part list to the grid.
  *
  * CDC parquet *writing* is a forked-arrow feature with no Spark writer
  * hook (SURVEY §7.1); the estimator reads such files fine, Spark just
  * can't produce them — documented capability gap, not a code path.
  *
  * The reference's SQLite sink (S7) is `SqliteFormat`, backed by the
  * from-scratch [[SqliteWriter]] (no sqlite-jdbc exists offline; the
  * writer implements the public file format and is round-tripped against
  * the container's real sqlite3 in SqliteWriterSpec). Driver-side like
  * the reference's pandas `to_sql` path — a RESULT-table sink.
  */
sealed trait TableFormat {
  def name: String
  def write(df: DataFrame, directory: Path, group: String, table: String): Seq[String]
}

object TableFormat {

  private def targetDir(directory: Path, group: String, format: String): Path = {
    val d = directory.resolve(group).resolve(format)
    Files.createDirectories(d)
    d
  }

  /** Collect the data files Spark wrote (skip _SUCCESS/CRC). */
  private def partFiles(dir: Path, ext: String): Seq[String] = {
    val stream = Files.list(dir)
    try
      stream
        .iterator()
        .asScala
        .filter(p => p.getFileName.toString.endsWith(ext))
        .map(_.toString)
        .toSeq
        .sorted
    finally stream.close()
  }

  private implicit class IterAsScala[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }

  private def writeAndCollect(
      df: DataFrame,
      dir: Path,
      table: String,
      ext: String,
      singleFile: Boolean)(write: (DataFrame, String) => Unit): Seq[String] = {
    val tmp = dir.resolve(s".tmp_$table")
    write(if (singleFile) df.coalesce(1) else df, tmp.toString)
    val parts = partFiles(tmp, ext)
    if (singleFile) {
      require(parts.size == 1, s"expected single part, got ${parts.size}")
      val target = dir.resolve(s"$table$ext")
      Files.move(Paths.get(parts.head), target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.Harness.deleteRecursively(tmp)
      Seq(target.toString)
    } else {
      val moved = parts.zipWithIndex.map { case (p, i) =>
        val target = dir.resolve(s"$table-part$i$ext")
        Files.move(Paths.get(p), target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        target.toString
      }
      graft.Harness.deleteRecursively(tmp)
      moved
    }
  }

  /** Parquet with the reference's knobs (de/formats.py:84-96): compression,
    * dictionary on/off, row-group size (bytes), data-page size (bytes).
    */
  final case class ParquetFormat(
      compression: String = "snappy",
      useDictionary: Boolean = true,
      rowGroupBytes: Option[Long] = None,
      dataPageBytes: Option[Long] = None,
      singleFile: Boolean = true) extends TableFormat {
    def name: String = {
      val knobs = Seq(
        Some(compression),
        if (useDictionary) None else Some("nodict"),
        rowGroupBytes.map(b => s"rg$b"),
        dataPageBytes.map(b => s"dp$b")).flatten
      s"parquet-${knobs.mkString("-")}"
    }
    def write(df: DataFrame, directory: Path, group: String, table: String): Seq[String] = {
      val dir = targetDir(directory, group, name)
      writeAndCollect(df, dir, table, ".parquet", singleFile) { (d, path) =>
        var w = d.write.mode("overwrite")
          .option("compression", compression)
          .option("parquet.enable.dictionary", useDictionary.toString)
        rowGroupBytes.foreach(b => w = w.option("parquet.block.size", b.toString))
        dataPageBytes.foreach(b => w = w.option("parquet.page.size", b.toString))
        w.parquet(path)
      }
    }
  }

  /** JSONLines with optional compression (reference: de/formats.py:168-184;
    * the reference's zstd option is pandas-side — Spark's JSON writer
    * supports gzip/lz4/deflate/bzip2/snappy only, so zstd is rejected
    * up front with the supported list).
    */
  final case class JsonLinesFormat(
      compression: Option[String] = None,
      singleFile: Boolean = true) extends TableFormat {
    // Spark's part-file suffix per codec — what partFiles must match
    private val codecExt = Map(
      "gzip" -> ".json.gz", "lz4" -> ".json.lz4", "deflate" -> ".json.deflate",
      "bzip2" -> ".json.bz2", "snappy" -> ".json.snappy")
    compression.foreach(c => require(codecExt.contains(c),
      s"jsonlines codec $c unsupported by Spark's JSON writer; use one of ${codecExt.keys}"))
    def name: String = compression.fold("jsonlines")(c => s"jsonlines-$c")
    def write(df: DataFrame, directory: Path, group: String, table: String): Seq[String] = {
      val dir = targetDir(directory, group, name)
      val partExt = compression.map(codecExt).getOrElse(".json")
      writeAndCollect(df, dir, table, partExt, singleFile) { (d, path) =>
        var w = d.write.mode("overwrite")
        compression.foreach(c => w = w.option("compression", c))
        w.json(path)
      }
    }
  }

  /** ORC sink — the other columnar format Spark ships natively; rounds
    * out the estimator's format grid (the reference is parquet-only, but
    * dedup-friendliness comparisons are exactly what the grid is FOR, and
    * ORC's stripe framing dedups differently from parquet's row groups).
    */
  final case class OrcFormat(
      compression: String = "snappy",
      singleFile: Boolean = true) extends TableFormat {
    def name: String = s"orc-$compression"
    def write(df: DataFrame, directory: Path, group: String, table: String): Seq[String] = {
      val dir = targetDir(directory, group, name)
      writeAndCollect(df, dir, table, ".orc", singleFile) { (d, path) =>
        d.write.mode("overwrite").option("compression", compression).orc(path)
      }
    }
  }

  /** The reference's SQLite sink (S7, de/formats.py:187-202): the whole
    * table into one `.sqlite` file as table "table", via the from-scratch
    * public-file-format [[SqliteWriter]].
    */
  final case class SqliteFormat(tableName: String = "table") extends TableFormat {
    def name: String = "sqlite"
    def write(df: DataFrame, directory: Path, group: String, table: String): Seq[String] = {
      val target = targetDir(directory, group, name).resolve(s"$table.sqlite")
      SqliteWriter.write(df, target, tableName)
      Seq(target.toString)
    }
  }

  /** CSV sink (kept alongside the real SQLite sink: same row-oriented,
    * compressible shape, but distributable).
    */
  final case class CsvFormat(singleFile: Boolean = true) extends TableFormat {
    def name: String = "csv"
    def write(df: DataFrame, directory: Path, group: String, table: String): Seq[String] = {
      val dir = targetDir(directory, group, name)
      writeAndCollect(df, dir, table, ".csv", singleFile) { (d, path) =>
        d.write.mode("overwrite").option("header", "true").csv(path)
      }
    }
  }

  /** The reference's default comparison grid (de/cli.py:111-132, minus the
    * unportable CDC writers): parquet {snappy, zstd, none} × dictionary,
    * plus JSONLines.
    */
  def defaultGrid(
      withJson: Boolean = false,
      withCsv: Boolean = false,
      withSqlite: Boolean = false): Seq[TableFormat] = {
    val parquet = Seq(
      ParquetFormat("snappy"),
      ParquetFormat("zstd"),
      ParquetFormat("none"),
      ParquetFormat("snappy", useDictionary = false))
    parquet ++
      (if (withJson) Seq(JsonLinesFormat(None), JsonLinesFormat(Some("gzip"))) else Seq.empty) ++
      (if (withCsv) Seq(CsvFormat()) else Seq.empty) ++
      (if (withSqlite) Seq(SqliteFormat()) else Seq.empty)
  }
}
