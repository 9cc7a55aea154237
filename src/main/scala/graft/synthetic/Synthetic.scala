package graft.synthetic

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Schema DSL for the synthetic generator (reference: de/synthetic.py:107-130
  * via de/cli.py:34): JSON like `{"a":"int","b":"str","c":["int"],
  * "d":{"x":"float"}}` → typed column specs. Types: int, float, str,
  * largestr, bool, nested dict (struct), single-element list (array).
  */
sealed trait DType
object DType {
  case object IntT extends DType
  case object FloatT extends DType
  case object StrT extends DType
  case object LargeStrT extends DType
  case object BoolT extends DType
  final case class StructT(fields: Seq[(String, DType)]) extends DType
  final case class ListT(elem: DType) extends DType

  def parseSchema(json: String): Seq[(String, DType)] = {
    // lenient JSON (unquoted keys, single quotes) — shells and sbt's arg
    // tokenizer eat double quotes, so `{a:int,b:[str]}` must work too:
    // bare identifiers get quoted before parsing when no quotes survive
    val normalized =
      if (json.contains("\"") || json.contains("'")) json
      else json.replaceAll("([A-Za-z_][A-Za-z0-9_]*)", "\"$1\"")
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .enable(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_UNQUOTED_FIELD_NAMES)
      .enable(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_SINGLE_QUOTES)
      .build()
    val node = mapper.readTree(normalized)
    require(node.isObject, "schema root must be a JSON object")
    parseStruct(node).fields
  }

  private def parseStruct(node: com.fasterxml.jackson.databind.JsonNode): StructT =
    StructT(node.properties().asScala.toSeq.map(e => e.getKey -> parseNode(e.getValue)))

  private def parseNode(n: com.fasterxml.jackson.databind.JsonNode): DType =
    if (n.isTextual) n.asText() match {
      case "int" => IntT
      case "float" => FloatT
      case "str" => StrT
      case "largestr" => LargeStrT
      case "bool" => BoolT
      case other => throw new IllegalArgumentException(s"Unsupported data type: $other")
    }
    else if (n.isArray) {
      require(n.size() == 1, "list type must have exactly one element type")
      ListT(parseNode(n.get(0)))
    } else if (n.isObject) parseStruct(n)
    else throw new IllegalArgumentException(s"Unsupported data type node: $n")
}

/** Deterministic distributed data generator (reference: DataGenerator,
  * de/synthetic.py:5-84).
  *
  * Determinism design (SURVEY §1.3-5): every random draw is
  * `xxhash64(seed, id, columnPath[, elementIndex])` — a counter RNG keyed
  * by the row's stable `id`, never by partition-seeded streams — so output
  * is identical under any repartitioning, and same-seed ⟹ same table.
  * All generation is `functions._` column expressions (whole-stage
  * codegen), no UDFs.
  *
  * Value domains mirror the reference: int ∈ [0,1e6); float = uniform
  * [0,1e6) rounded to 3 decimals; str len ∈ [10,100), largestr ∈ [100,1000),
  * chars over "a-z " (27 symbols); list len ∈ [0,5).
  */
final class DataGenerator(schema: Seq[(String, DType)], seed: Long = 42L) {
  import DType._

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz "

  /** Uniform u64 → [0, bound) via modulo of the non-negative hash. */
  private def h(path: String, extra: Column*): Column =
    abs(xxhash64((lit(seed) +: lit(path) +: col("id") +: extra): _*))

  private def gen(path: String, t: DType): Column = t match {
    case IntT => h(path) % 1000000L
    case FloatT =>
      round((h(path) % 1000000000L).cast("double") / 1000.0, 3)
    case StrT => genString(path, 10, 100)
    case LargeStrT => genString(path, 100, 1000)
    case BoolT => (h(path) % 2L) === 0L
    case StructT(fields) =>
      struct(fields.map { case (n, ft) => gen(s"$path.$n", ft).as(n) }: _*)
    case ListT(elem) =>
      val len = h(path + "#len") % 5L
      // element j keyed by (path, j): stable per row and position
      transform(sequence(lit(1), len.cast("int")),
        j => genElem(path + "#elem", elem, j))
  }

  /** Array-element variant: randomness additionally keyed by position. */
  private def genElem(path: String, t: DType, j: Column): Column = t match {
    case IntT => abs(xxhash64(lit(seed), lit(path), col("id"), j)) % 1000000L
    case FloatT =>
      round((abs(xxhash64(lit(seed), lit(path), col("id"), j)) % 1000000000L)
        .cast("double") / 1000.0, 3)
    case BoolT => (abs(xxhash64(lit(seed), lit(path), col("id"), j)) % 2L) === 0L
    case StrT => genStringKeyed(path, 10, 100, Seq(j))
    case LargeStrT => genStringKeyed(path, 100, 1000, Seq(j))
    case StructT(fields) =>
      struct(fields.map { case (n, ft) => genElem(s"$path.$n", ft, j).as(n) }: _*)
    case ListT(e) =>
      val len = abs(xxhash64(lit(seed), lit(path + "#len"), col("id"), j)) % 5L
      transform(sequence(lit(1), len.cast("int")),
        j2 => genElem(path + "#elem", e, j2 + j * 8))
  }

  private def genString(path: String, lo: Int, hi: Int): Column =
    genStringKeyed(path, lo, hi, Seq.empty)

  private def genStringKeyed(path: String, lo: Int, hi: Int, key: Seq[Column]): Column = {
    val len = (abs(xxhash64((lit(seed) +: lit(path + "#len") +: col("id") +: key): _*))
      % (hi - lo).toLong + lo.toLong).cast("int")
    val alphabetArr = array(Alphabet.map(c => lit(c.toString)): _*)
    concat_ws("",
      transform(sequence(lit(1), len), j =>
        element_at(alphabetArr,
          (abs(xxhash64((lit(seed) +: lit(path + "#chr") +: col("id") +: (key :+ j)): _*))
            % 27L).cast("int") + 1)))
  }

  /** G1: n rows of the schema, plus a stable `id` ordering column (the
    * positional-semantics backbone per SURVEY §7.4-2).
    */
  def generate(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      (col("id") +: schema.map { case (name, t) => gen(name, t).as(name) }): _*)

  /** Fresh rows with ids offset by `idOffset` and a generation tag mixed
    * into the randomness (edit rows differ from original rows at same id).
    */
  private def generateTagged(spark: SparkSession, n: Long, tag: String): DataFrame =
    spark.range(n).select(
      (col("id") +: schema.map { case (name, t) => gen(s"$tag/$name", t).as(name) }): _*)

  // ------------------------------------------------------------- edit ops

  /** G2 delete_rows: remove the k rows ending at int(p*n) for each edit
    * point p (reference de/synthetic.py:15-24 — last segment kept whole).
    */
  def deleteRows(df: DataFrame, n: Long, editPoints: Seq[Double], k: Int): DataFrame = {
    val ranges = editPoints.map { p =>
      val end = (p * n).toLong
      (end - k, end) // delete ids in [end-k, end)
    }
    val cond = ranges
      .map { case (lo, hi) => col("id") >= lo && col("id") < hi }
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    df.filter(!cond)
  }

  /** G3 insert_rows: k fresh rows at each int(p*n) boundary. Order is kept
    * by a fractional sort key; ids are renumbered densely afterwards so
    * downstream ops see a contiguous id space.
    */
  def insertRows(spark: SparkSession, df: DataFrame, n: Long, editPoints: Seq[Double], k: Int): DataFrame = {
    val inserts = editPoints.zipWithIndex.map { case (p, i) =>
      val at = (p * n).toLong
      generateTagged(spark, k, s"insert$i")
        .withColumn("sort_key", lit(at.toDouble - 0.5) + col("id").cast("double") / (2.0 * k))
    }
    val orig = df.withColumn("sort_key", col("id").cast("double"))
    val all = inserts.foldLeft(orig)(_ unionByName _)
    renumber(all)
  }

  /** G4 append_rows: int(ratio*n) fresh rows appended after id n-1. */
  def appendRows(spark: SparkSession, df: DataFrame, n: Long, ratio: Double): DataFrame = {
    val m = (ratio * n).toLong
    val appended = generateTagged(spark, m, "append").withColumn("id", col("id") + n)
    df.unionByName(appended)
  }

  /** G5 update_rows: replace exactly one row at idx = int(p*n) per edit
    * point with a freshly generated row (reference de/synthetic.py:40-50
    * replaces 1 row per point despite edit_size).
    */
  def updateRows(spark: SparkSession, df: DataFrame, n: Long, editPoints: Seq[Double]): DataFrame = {
    val targets = editPoints.zipWithIndex.map { case (p, i) => ((p * n).toLong, i.toLong) }
    val edits = generateTagged(spark, targets.size.toLong, "update")
      .withColumn("target_id",
        element_at(array(targets.map(t => lit(t._1)): _*), col("id").cast("int") + 1))
      .drop("id")
      .withColumnRenamed("target_id", "id")
    val dataCols = df.columns.filter(_ != "id")
    val joined = df.as("o").join(edits.as("e"), Seq("id"), "left")
    joined.select(
      (col("id") +: dataCols.toSeq.map(c =>
        coalesce(col(s"e.$c"), col(s"o.$c")).as(c))): _*)
  }

  /** U2 per-column update: like G5 but only `column` is replaced. */
  def updateColumn(spark: SparkSession, df: DataFrame, n: Long, editPoints: Seq[Double], column: String): DataFrame = {
    val targets = editPoints.zipWithIndex.map { case (p, i) => ((p * n).toLong, i.toLong) }
    val edits = generateTagged(spark, targets.size.toLong, "update")
      .withColumn("target_id",
        element_at(array(targets.map(t => lit(t._1)): _*), col("id").cast("int") + 1))
      .select(col("target_id").as("id"), col(column).as(s"__edit_$column"))
    df.as("o")
      .join(edits, Seq("id"), "left")
      .select(df.columns.map {
        case "id" => col("id")
        case c if c == column => coalesce(col(s"__edit_$column"), col(s"o.$c")).as(c)
        case c => col(s"o.$c")
      }.toSeq: _*)
  }

  /** Dense renumber by the (sort_key, id) total order, dropping sort_key.
    * Partition-safe: range-partition on the order, sort within partitions,
    * then assign ids via zipWithIndex (per-partition offsets under the
    * hood) — no single-partition global window, so the renumber
    * parallelizes across the cluster instead of serializing the whole
    * variant through one task. Output ids are a pure function of the total
    * order (the tiebreaking old id makes it unique), so the result is
    * identical under any partitioning.
    */
  private def renumber(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val dataCols = df.columns.filter(c => c != "id" && c != "sort_key")
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    val sorted = df
      .select((col("sort_key") +: col("id") +: dataCols.map(col)).toSeq: _*)
      .repartitionByRange(parts, col("sort_key"), col("id"))
      .sortWithinPartitions(col("sort_key"), col("id"))
    val outSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false) +:
        dataCols.map(c => sorted.schema(c)))
    val renumbered = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(
        idx +: dataCols.indices.map(i => row.get(i + 2)))
    }
    spark.createDataFrame(renumbered, outSchema)
  }

  /** G6 generate_synthetic_tables: original + standard edit variants
    * (reference de/synthetic.py:52-84), with row-count assertions.
    */
  def generateSyntheticTables(
      spark: SparkSession,
      n: Long,
      editPoints: Seq[Double],
      editSize: Int,
      appendRatio: Double = 0.05,
      perColumnUpdates: Boolean = false,
      assertCounts: Boolean = true): Map[String, DataFrame] = {
    checkDeleteWindows(n, editPoints, editSize)
    val original = generate(spark, n)
    val e = editPoints.size
    val variants = scala.collection.mutable.LinkedHashMap[String, DataFrame](
      "original" -> original,
      "deleted" -> deleteRows(original, n, editPoints, editSize),
      "inserted" -> insertRows(spark, original, n, editPoints, editSize),
      "appended" -> appendRows(spark, original, n, appendRatio),
      "updated" -> updateRows(spark, original, n, editPoints))
    if (perColumnUpdates) schema.foreach { case (name, _) =>
      variants += s"updated_$name" -> updateColumn(spark, original, n, editPoints, name)
    }
    // reference asserts counts post-build (de/synthetic.py:65-68)
    if (assertCounts) {
      def expect(variant: String, want: Long): Unit = {
        val got = variants(variant).count()
        require(got == want, s"$variant variant has $got rows, expected $want")
      }
      expect("deleted", n - e.toLong * editSize)
      expect("inserted", n + e.toLong * editSize)
      expect("appended", n + (appendRatio * n).toLong)
      expect("updated", n)
    }
    variants.toMap
  }

  /** The delete windows `[int(p·n) − editSize, int(p·n))` must each lie in
    * `[0, n)` and must not overlap, or the deleted variant loses
    * fewer than `editPoints.size × editSize` rows.
    */
  private def checkDeleteWindows(n: Long, editPoints: Seq[Double], editSize: Int): Unit = {
    val windows = editPoints.map { p =>
      val end = (p * n).toLong
      (p, end - editSize, end)
    }.sortBy(_._3)
    windows.foreach { case (p, lo, hi) =>
      require(lo >= 0 && hi <= n,
        s"edit point $p with editSize $editSize deletes rows [$lo, $hi), outside [0, $n)")
    }
    windows.zip(windows.drop(1)).foreach { case ((p, _, hi), (q, lo, _)) =>
      require(lo >= hi,
        s"edit points $p and $q are closer than editSize $editSize rows " +
          s"(at n = $n): their delete windows overlap")
    }
  }
}

object EditPoints {
  /** Reference derivation (de/cli.py:94): linspace(0.5/E, 1-0.5/E, E). */
  def linspace(e: Int): Seq[Double] =
    if (e <= 0) Seq.empty
    else if (e == 1) Seq(0.5)
    else {
      val lo = 0.5 / e
      val hi = 1.0 - 0.5 / e
      (0 until e).map(i => lo + i * (hi - lo) / (e - 1))
    }
}
