package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering layout analysis — the lakehouse
  * `OPTIMIZE ZORDER BY` primitive re-expressed as a measurable layout
  * experiment.
  *
  * At 100 TB the question "should this table be laid out by linear sort
  * or by z-order?" is decided by how many FILES a representative
  * multi-dimensional probe has to open: parquet readers prune whole files
  * from footer min/max stats, so a layout is better exactly when fewer
  * file-granularity (min,max) boxes intersect the probe. This operator
  * computes that experiment entirely inside the engine: quantize two
  * dimensions to a fixed 16-bit grid, derive both layout keys (linear
  * concatenation vs bit-interleaved z-value), split each layout into 64
  * equal key-range "files", and report per-file row counts, min/max
  * boxes, and probe intersection — all integer arithmetic, so a SQL
  * oracle replays it cell-exactly.
  *
  * Everything is a narrow pass over the fact table plus ONE aggregation
  * shuffle (the per-bucket stats); the bounds row is a broadcast cross
  * join, never a driver collect. The actual rewrite at scale is the same
  * z expression fed to `repartitionByRange(zCol)` + write — the analysis
  * here prices the rewrite before paying for it.
  *
  * All arithmetic is BIGINT-exact and shared with the oracle via
  * [[quantizeSql]] / [[interleaveSql]], which render identical logic for
  * Spark (`a div b`) and DuckDB (`a // b`).
  */
object ZOrder {

  /** Bits per quantized dimension (z-values use 2×Bits). */
  val Bits = 16

  /** Buckets ("files") per layout = 2^BucketBits. */
  val BucketBits = 6

  /** Engine-specific integer-division renderer. */
  type IDiv = (String, String) => String
  val SparkIDiv: IDiv = (a, b) => s"(($a) div ($b))"
  val DuckIDiv: IDiv = (a, b) => s"(($a) // ($b))"

  /** Overflow-safe proportional quantization of BIGINT `v` into
    * [0, 2^bits): q = ((v-min)/d * (2^bits - 1)) / ((range/d)+1) with the
    * pre-shrink d = (range >> 20) + 1 keeping the multiply under 2^63
    * for any BIGINT range (after the shrink, (v-min)/d ≤ 2^20+ε, so
    * ×65535 stays ≈ 2^36). Monotone in v; small ranges (d = 1) spread
    * across the full width so high bits still discriminate — a 15-user
    * column must not collapse into one z-cell.
    */
  def quantizeSql(v: String, minE: String, maxE: String, idiv: IDiv,
      bits: Int = Bits): String = {
    val m = (1L << bits) - 1
    val range = s"(($maxE) - ($minE))"
    val d = s"(($range >> 20) + 1)"
    val vShrunk = idiv(s"(($v) - ($minE))", d)
    val rShrunk = idiv(range, d)
    idiv(s"($vShrunk * $m)", s"($rShrunk + 1)")
  }

  /** Morton interleave of two already-quantized dims (each in
    * [0, 2^bits)): x occupies even bit positions, y odd. Bit positions
    * are disjoint so `+` is `|`, and `+` parses identically everywhere.
    */
  def interleaveSql(qx: String, qy: String, bits: Int = Bits): String =
    (0 until bits).flatMap { i =>
      Seq(s"(((($qx) >> $i) & 1) << ${2 * i})",
        s"(((($qy) >> $i) & 1) << ${2 * i + 1})")
    }.mkString("(", " + ", ")")

  /** Pure-Scala reference interleave (for property tests). */
  def interleaveRef(qx: Long, qy: Long, bits: Int = Bits): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((qx >> i) & 1L) << (2 * i)
      z |= ((qy >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** Probe box in quantized space: second quarter of x × third quarter
    * of y — off-center so linear and z layouts disagree visibly.
    */
  val ProbeX0 = 16384L; val ProbeX1 = 32767L
  val ProbeY0 = 32768L; val ProbeY1 = 49151L

  /** Layout experiment over a two-BIGINT-column frame `xy(x, y)`:
    * for each layout ('linear' sort by (x,y) vs 'zorder') and each of 64
    * equal key-range buckets, the rows landing there, their (x,y)
    * bounding box in quantized space, and whether a file with that box
    * survives min/max pruning for the fixed probe. Output is exact
    * integers: (layout, bucket, n_rows, min_qx, max_qx, min_qy, max_qy,
    * probe_hit).
    */
  def layoutStats(xy: DataFrame): DataFrame = {
    val ev = xy.filter(col("x").isNotNull && col("y").isNotNull)
    val bounds = ev.agg(
      min(col("x")).as("xmin"), max(col("x")).as("xmax"),
      min(col("y")).as("ymin"), max(col("y")).as("ymax"))
    val q = ev.crossJoin(broadcast(bounds))
      .select(
        expr(quantizeSql("x", "xmin", "xmax", SparkIDiv)).as("qx"),
        expr(quantizeSql("y", "ymin", "ymax", SparkIDiv)).as("qy"))
      .select(col("qx"), col("qy"),
        expr(interleaveSql("qx", "qy")).as("zkey"),
        (shiftleft(col("qx"), Bits) + col("qy")).as("linkey"))
    val shift = 2 * Bits - BucketBits
    // one pass, not a self-union: unioning two projections of `q` makes
    // Spark COPY the whole subtree per branch (two fact scans + two
    // bounds aggregations); exploding a literal struct array emits both
    // (layout, bucket) rows per input row from a single scan and a
    // single bounds aggregate (guide §2.4 — remove shuffles/passes
    // outright). Row multiplicity into the aggregate is identical to
    // the union's, so the result is row-for-row the same.
    val tagged = q
      .select(
        explode(array(
          struct(lit("linear").as("layout"),
            shiftright(col("linkey"), shift).as("bucket")),
          struct(lit("zorder").as("layout"),
            shiftright(col("zkey"), shift).as("bucket")))).as("lb"),
        col("qx"), col("qy"))
      .select(col("lb.layout").as("layout"), col("lb.bucket").as("bucket"),
        col("qx"), col("qy"))
    tagged.groupBy(col("layout"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("qx")).as("min_qx"), max(col("qx")).as("max_qx"),
        min(col("qy")).as("min_qy"), max(col("qy")).as("max_qy"))
      .withColumn("probe_hit",
        (!(col("max_qx") < ProbeX0 || col("min_qx") > ProbeX1 ||
          col("max_qy") < ProbeY0 || col("min_qy") > ProbeY1))
          .cast("long"))
  }

  /** Execute the rewrite [[layoutStats]] prices: write `df` z-ordered
    * on (xCol, yCol) as `nFiles` range-partitioned parquet files, each
    * sorted by z-value — so the written files' footer min/max boxes
    * tile the 2-D space and multi-dimensional probes prune at file
    * granularity (proven against real footers in ZOrderWriteSpec). All
    * original columns are preserved; the z machinery never persists.
    * One range shuffle — the same cost as any global sort-write.
    */
  def rewrite(df: DataFrame, xCol: String, yCol: String, outDir: String,
      nFiles: Int, curve: String = "zorder"): Unit = {
    require(curve == "zorder" || curve == "hilbert",
      s"curve must be zorder or hilbert: $curve")
    val ev = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val bounds = ev.agg(
      min(col(xCol).cast("long")).as("__xmin"),
      max(col(xCol).cast("long")).as("__xmax"),
      min(col(yCol).cast("long")).as("__ymin"),
      max(col(yCol).cast("long")).as("__ymax"))
    val quantized = ev.crossJoin(broadcast(bounds))
      .withColumn("__qx", expr(quantizeSql(
        s"CAST(`$xCol` AS BIGINT)", "__xmin", "__xmax", SparkIDiv)))
      .withColumn("__qy", expr(quantizeSql(
        s"CAST(`$yCol` AS BIGINT)", "__ymin", "__ymax", SparkIDiv)))
    val keyed =
      if (curve == "zorder")
        quantized.withColumn("__curvekey", expr(interleaveSql("__qx", "__qy")))
      else
        Hilbert.hilbertKey(quantized, "__qx", "__qy")
          .withColumnRenamed("hkey", "__curvekey")
    keyed
      .repartitionByRange(nFiles, col("__curvekey"))
      .sortWithinPartitions(col("__curvekey"))
      .drop("__xmin", "__xmax", "__ymin", "__ymax", "__qx", "__qy", "__curvekey")
      .write.mode("overwrite").parquet(outDir)
  }

  /** The same arithmetic as [[layoutStats]] rendered as engine-neutral
    * SQL over a `__ev(x, y)` CTE the caller must provide — the DuckDB
    * oracle body. Kept here, next to the Spark plan, so the two can only
    * drift together.
    */
  def layoutStatsOracleSql(idiv: IDiv = DuckIDiv): String = {
    val shift = 2 * Bits - BucketBits
    s"""__b AS (
       |  SELECT MIN(x) AS xmin, MAX(x) AS xmax,
       |         MIN(y) AS ymin, MAX(y) AS ymax
       |  FROM __ev),
       |__q AS (
       |  SELECT ${quantizeSql("x", "xmin", "xmax", idiv)} AS qx,
       |         ${quantizeSql("y", "ymin", "ymax", idiv)} AS qy
       |  FROM __ev, __b),
       |__k AS (
       |  SELECT qx, qy,
       |         ${interleaveSql("qx", "qy")} AS zkey,
       |         ((qx << $Bits) + qy) AS linkey
       |  FROM __q),
       |__t AS (
       |  SELECT 'linear' AS layout, (linkey >> $shift) AS bucket, qx, qy FROM __k
       |  UNION ALL
       |  SELECT 'zorder' AS layout, (zkey >> $shift) AS bucket, qx, qy FROM __k),
       |__s AS (
       |  SELECT layout, bucket, COUNT(*) AS n_rows,
       |         MIN(qx) AS min_qx, MAX(qx) AS max_qx,
       |         MIN(qy) AS min_qy, MAX(qy) AS max_qy
       |  FROM __t GROUP BY layout, bucket)
       |SELECT layout, bucket, n_rows, min_qx, max_qx, min_qy, max_qy,
       |  CAST(NOT (max_qx < $ProbeX0 OR min_qx > $ProbeX1 OR
       |            max_qy < $ProbeY0 OR min_qy > $ProbeY1) AS BIGINT)
       |    AS probe_hit
       |FROM __s""".stripMargin
  }
}
