package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}

/** The persisted-index refresh contract shared by the span and line
  * families ([[SpanIndexMeta]], [[LineIndexMeta]]). An index parquet
  * alone records none of the parameters it was built with, and a refresh
  * against a mismatched index is silently wrong, so every persisted
  * index carries a one-line flat JSON sidecar, `_`-prefixed so parquet
  * readers skip it as a non-data file, exactly like `_SUCCESS`.
  * [[persist]] is the one writer of an index with its sidecar and
  * [[load]] the one reader; each family's companion holds only its typed
  * fields, and its operator checks them against the refresh's parameters.
  *
  * @param kind the family's index name (`span-index`), which is also the
  *   CLI command that builds it; every refusal names it
  * @param columns the index parquet's columns, in display order
  * @param pins what the sidecar pins, named when it is missing
  */
abstract class IndexSidecar[M](
    kind: String,
    val FileName: String,
    columns: Seq[String],
    pins: String) {

  protected def toJson(meta: M): String

  /** The typed sidecar from a field lookup that refuses a missing field. */
  protected def fromFields(field: String => String): M

  def write(conf: Configuration, dir: String, meta: M): Unit = {
    val p = new Path(dir, FileName)
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(toJson(meta).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** None when the sidecar is absent (an index from before the guard). */
  def read(conf: Configuration, dir: String): Option[M] = {
    val p = new Path(dir, FileName)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(parse(scala.io.Source.fromInputStream(in, "UTF-8").mkString))
      finally in.close()
    }
  }

  /** Extract the scalar fields of the flat integer/boolean JSON [[write]]
    * emits (we are our own only producer — a full JSON parser would be a
    * new dependency for a handful of fields).
    */
  private def parse(json: String): M =
    fromFields(name =>
      ("\"" + name + "\"\\s*:\\s*([^,}\\s]+)").r
        .findFirstMatchIn(json)
        .getOrElse(throw new IllegalArgumentException(
          s"$kind meta missing field '$name': $json"))
        .group(1))

  /** Write the cached index `build` makes of `docs` to `dir`, release it,
    * then write the sidecar `meta(max doc id, index rows)` (after the
    * parquet overwrite, which clears the dir first). Refuses an empty
    * corpus, named by `source`: its max id is NULL, and an index of
    * nothing is almost certainly a pipeline bug (wrong path, empty
    * extract).
    */
  private[operators] def persist(
      docs: DataFrame,
      idCol: String,
      source: String,
      dir: String)(build: => DataFrame)(meta: (Long, Long) => M): M = {
    val maxRow = docs.agg(max(col(idCol).cast("long"))).head()
    require(!maxRow.isNullAt(0),
      s"empty documents parquet (0 rows): $source — refusing to build a " +
        s"${kind.replace('-', ' ')} of nothing; check the input path")
    val idx = build
    idx.write.mode("overwrite").parquet(dir)
    val n = idx.count()
    idx.unpersist()
    val m = meta(maxRow.getLong(0), n)
    write(docs.sparkSession.sparkContext.hadoopConfiguration, dir, m)
    m
  }

  /** The index persisted at `dir` and its sidecar. Refuses a parquet
    * without this family's columns, and an index without a sidecar
    * (pre-sidecar layout, or a hand-rolled copy) — a silent mismatch is
    * a silently WRONG cut.
    */
  private[operators] def load(spark: SparkSession, dir: String): (DataFrame, M) = {
    val idx = spark.read.parquet(dir)
    require(idx.columns.sorted.sameElements(columns.sorted),
      s"not a $kind (expected (${columns.mkString(", ")}) columns): " +
        idx.columns.mkString(", "))
    val meta = read(spark.sparkContext.hadoopConfiguration, dir)
      .getOrElse(throw new IllegalArgumentException(
        s"$kind at $dir has no $FileName sidecar — rebuild it with " +
          s"`$kind` (the sidecar pins $pins, without which this refresh " +
          "cannot verify its exactness contract)"))
    (idx, meta)
  }
}
