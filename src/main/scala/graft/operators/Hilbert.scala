package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hilbert-curve clustering — the space-filling curve with strictly
  * better locality than Morton/z-order (every consecutive pair of curve
  * positions is a GRID NEIGHBOR, so key-range "files" tile the 2-D space
  * in compact blobs instead of z-shaped jumps). This is the curve behind
  * Databricks liquid clustering and Delta's OPTIMIZE ZORDER successor
  * discussions; here it is a first-class layout next to [[ZOrder]].
  *
  * The classic per-level fold (quadrant index + rotate/reflect) is pure
  * integer CASE arithmetic — no XOR, which Spark spells `^` and DuckDB
  * spells `xor()` — so each level renders as ONE engine-neutral SQL
  * template over the previous level's columns; the oracle applies those
  * strings as a chained-CTE pipeline ([[hilbertCtesSql]]). The Spark
  * side computes the SAME values via the word-parallel prefix-scan
  * formulation in [[hilbertKey]] (round-21; see its scaladoc for the
  * derivation) — value equality between the two formulations and the
  * pure-Scala reference [[xy2d]] is pinned exhaustively by HilbertSpec
  * and by the DuckDB oracle replay.
  */
object Hilbert {

  /** Pure-Scala reference: Hilbert distance of (x, y) on a 2^bits grid
    * (top-down quadrant walk; validated by exhaustive adjacency in
    * HilbertSpec).
    */
  def xy2d(bits: Int, x0: Long, y0: Long): Long = {
    var (x, y) = (x0, y0)
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      // rotate the s×s sub-square so the child quadrant is re-oriented
      if (ry == 0) {
        if (rx == 1) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val t = x; x = y; y = t
      }
      // confine to the sub-square (the reference C keeps full coords and
      // masks implicitly via s; after the reflection x/y may go negative
      // unless we mask to the lower bits)
      x &= (s - 1)
      y &= (s - 1)
      s >>= 1
    }
    d
  }

  /** One level of the fold as engine-neutral SQL: given the previous
    * level's columns (xPrev, yPrev, dPrev) and the half-size s, returns
    * (xExpr, yExpr, dExpr) for the next level. Quadrant index
    * (3·rx) XOR ry spelled as a CASE over the two bits — no xor
    * operator needed.
    */
  def levelSql(s: Long, xPrev: String, yPrev: String,
      dPrev: String): (String, String, String) = {
    val rx = s"((($xPrev) & $s) > 0)"
    val ry = s"((($yPrev) & $s) > 0)"
    val quad =
      s"(CASE WHEN $rx AND $ry THEN 2 WHEN $rx THEN 3 WHEN $ry THEN 1 ELSE 0 END)"
    // CAST: s·s reaches 2^30 and ×3 overflows INT32 under ANSI; force
    // the accumulation into BIGINT on both engines
    val d = s"(($dPrev) + CAST(${s * s} AS BIGINT) * $quad)"
    // if ry==0: reflect when rx==1, then swap; mask to the sub-square
    val reflX = s"(CASE WHEN $rx THEN ${s - 1} - ($xPrev) ELSE ($xPrev) END)"
    val reflY = s"(CASE WHEN $rx THEN ${s - 1} - ($yPrev) ELSE ($yPrev) END)"
    val x = s"((CASE WHEN $ry THEN ($xPrev) ELSE $reflY END) & ${s - 1})"
    val y = s"((CASE WHEN $ry THEN ($yPrev) ELSE $reflX END) & ${s - 1})"
    (x, y, d)
  }

  /** Spread the low 16 bits of `v` to the even bit positions (the
    * z-order interleave step), 4 shift-or-mask rounds.
    */
  private def spreadBits(v: Column): Column = {
    val a = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val c = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Hilbert key column for already-quantized dims — word-parallel
    * O(log bits) formulation (round-21: replaces the 16-level
    * `withColumn` CASE chain, i.e. ~49 chained projections, with 6
    * branch-free bitwise layers; value-identical to [[xy2d]], which
    * HilbertSpec pins exhaustively on a 6-bit grid and on random
    * 16-bit samples).
    *
    * Derivation: processing quantized bits MSB→LSB, the classic fold's
    * rotate/reflect state is one of four maps {(x,y), (y,x), (¬x,¬y),
    * (¬y,¬x)} — two state bits (swap `s`, complement `c`) with
    *   rx_i = c ⊕ x_i ⊕ (s ∧ u_i),  ry_i = c ⊕ y_i ⊕ (s ∧ u_i),
    *   u_i = x_i ⊕ y_i,
    * and the per-level transition is an AFFINE map on (s,c) over GF(2)
    * determined only by (u_i, y_i):
    *   u=0: L=[[1,1],[0,1]], v=(¬y_i, 0);  u=1: L=[[0,1],[1,0]],
    *   v=(¬y_i, ¬y_i).
    * The state before level i is the composition of the earlier levels'
    * maps applied to (0,0) — i.e. the composed map's constant (v1,v2) —
    * so a Kogge–Stone prefix scan over the 6 bit-planes (4 matrix
    * entries + 2 constants, one bit per level packed in a word) yields
    * every level's state in ceil(log2 bits) rounds. The curve digit is
    * (2·rx_i)+(rx_i⊕ry_i) with rx_i⊕ry_i = u_i, so
    *   hkey = (spread(R) << 1) | spread(U),  R = c ⊕ x ⊕ (s ∧ u).
    * The DuckDB oracle keeps the engine-neutral per-level CASE chain
    * ([[hilbertCtesSql]]); both engines' values are pinned equal by the
    * spec and the oracle replay.
    */
  def hilbertKey(df: DataFrame, qx: String, qy: String,
      bits: Int = ZOrder.Bits): DataFrame = {
    require(bits >= 1 && bits <= 16, s"bits=$bits outside the 16-bit frame")
    val m = (1L << bits) - 1
    def bnot(c: Column): Column = c.bitwiseXOR(lit(m))
    var out = df
      .withColumn("__hu", col(qx).bitwiseXOR(col(qy)))
      .withColumn("__hl11_0", bnot(col("__hu")))
      .withColumn("__hl12_0", lit(m))
      .withColumn("__hl21_0", col("__hu"))
      .withColumn("__hl22_0", bnot(col("__hu")))
      .withColumn("__hv1_0", bnot(col(qy)))
      .withColumn("__hv2_0", col("__hu").bitwiseAND(bnot(col(qy))))
    var r = 0
    var ln = 1
    while (ln < bits) {
      def p(name: String) = col(s"__h${name}_$r")
      def sh(name: String) = shiftright(p(name), ln)
      // positions whose prefix window runs off the MSB end compose with
      // the identity map (L=I, v=0): OR the identity diagonal into the
      // shifted-in zeros; the off-diagonal/constant planes stay zero
      val idmask = ((1L << ln) - 1) << (bits - ln)
      val f11 = sh("l11").bitwiseOR(lit(idmask))
      val f12 = sh("l12")
      val f21 = sh("l21")
      val f22 = sh("l22").bitwiseOR(lit(idmask))
      val g1 = sh("v1")
      val g2 = sh("v2")
      // compose (this window's LATER levels) ∘ (shifted EARLIER levels):
      // (L,v) ∘ (L',v') = (L·L', L·v' ⊕ v), entrywise over GF(2)
      out = out
        .withColumn(s"__hl11_${r + 1}",
          p("l11").bitwiseAND(f11).bitwiseXOR(p("l12").bitwiseAND(f21)))
        .withColumn(s"__hl12_${r + 1}",
          p("l11").bitwiseAND(f12).bitwiseXOR(p("l12").bitwiseAND(f22)))
        .withColumn(s"__hl21_${r + 1}",
          p("l21").bitwiseAND(f11).bitwiseXOR(p("l22").bitwiseAND(f21)))
        .withColumn(s"__hl22_${r + 1}",
          p("l21").bitwiseAND(f12).bitwiseXOR(p("l22").bitwiseAND(f22)))
        .withColumn(s"__hv1_${r + 1}",
          p("l11").bitwiseAND(g1).bitwiseXOR(p("l12").bitwiseAND(g2))
            .bitwiseXOR(p("v1")))
        .withColumn(s"__hv2_${r + 1}",
          p("l21").bitwiseAND(g1).bitwiseXOR(p("l22").bitwiseAND(g2))
            .bitwiseXOR(p("v2")))
      r += 1
      ln <<= 1
    }
    // inclusive scan at bit b covers levels [b..MSB]; the state BEFORE
    // level b is the exclusive scan = inclusive at b+1, i.e. one right
    // shift (level 0's shifted-in zero IS its (0,0) initial state)
    val sPlane = shiftright(col(s"__hv1_$r"), 1)
    val cPlane = shiftright(col(s"__hv2_$r"), 1)
    val rPlane = cPlane.bitwiseXOR(col(qx))
      .bitwiseXOR(sPlane.bitwiseAND(col("__hu"))).bitwiseAND(lit(m))
    val keyed = out.withColumn("hkey",
      shiftleft(spreadBits(rPlane), 1).bitwiseOR(spreadBits(col("__hu"))))
    keyed.drop("__hu" +: (0 to r).flatMap(j =>
      Seq(s"__hl11_$j", s"__hl12_$j", s"__hl21_$j", s"__hl22_$j",
        s"__hv1_$j", s"__hv2_$j")): _*)
  }

  /** The same chain as chained CTEs for the DuckDB oracle: caller
    * provides CTE `__q(qx, qy)`; this emits `__h0 ... __h<bits>` where
    * the last carries (qx, qy, hkey). `bits` is capped at 16, the frame
    * [[hilbertKey]]'s `require` enforces (`1 <= bits <= 16`): the oracle
    * only replays keys the Spark side can produce.
    */
  def hilbertCtesSql(bits: Int = ZOrder.Bits): String = {
    val steps = new StringBuilder
    steps ++= "__h0 AS (SELECT qx, qy, qx AS hx, qy AS hy, CAST(0 AS BIGINT) AS hd FROM __q)"
    var i = 0
    var s = 1L << (bits - 1)
    while (s > 0) {
      val (xE, yE, dE) = levelSql(s, "hx", "hy", "hd")
      steps ++= s""",
         |__h${i + 1} AS (
         |  SELECT qx, qy, $xE AS hx, $yE AS hy, $dE AS hd FROM __h$i)"""
        .stripMargin
      i += 1
      s >>= 1
    }
    steps ++= s""",
       |__hk AS (SELECT qx, qy, hd AS hkey FROM __h$i)""".stripMargin
    steps.toString
  }

  /** Three-layout pruning experiment (linear, zorder, hilbert) over a
    * `xy(x, y)` BIGINT frame — [[ZOrder.layoutStats]] extended with the
    * Hilbert layout; same probe, same bucket granularity, same output
    * schema.
    */
  def layoutStats3(xy: DataFrame): DataFrame = {
    import ZOrder._
    val ev = xy.filter(col("x").isNotNull && col("y").isNotNull)
    val bounds = ev.agg(
      min(col("x")).as("xmin"), max(col("x")).as("xmax"),
      min(col("y")).as("ymin"), max(col("y")).as("ymax"))
    val q = ev.crossJoin(broadcast(bounds))
      .select(
        expr(quantizeSql("x", "xmin", "xmax", SparkIDiv)).as("qx"),
        expr(quantizeSql("y", "ymin", "ymax", SparkIDiv)).as("qy"))
    val keyed = hilbertKey(q, "qx", "qy")
      .withColumn("zkey", expr(interleaveSql("qx", "qy")))
      .withColumn("linkey", shiftleft(col("qx"), Bits) + col("qy"))
    val shift = 2 * Bits - BucketBits
    // one pass, not a three-way self-union: each union branch copied the
    // ENTIRE keyed subtree (three fact scans, three bounds aggregations,
    // and three copies of the per-level Hilbert fold to analyze/codegen);
    // exploding a literal struct array emits the three (layout, bucket)
    // rows per input row from one scan, one bounds aggregate, one fold
    // (guide §2.4). Row multiplicity into the aggregate is identical to
    // the union's, so the result is row-for-row the same.
    def tag(layout: String, key: Column) =
      struct(lit(layout).as("layout"), shiftright(key, shift).as("bucket"))
    keyed
      .select(
        explode(array(tag("linear", col("linkey")), tag("zorder", col("zkey")),
          tag("hilbert", col("hkey")))).as("lb"),
        col("qx"), col("qy"))
      .select(col("lb.layout").as("layout"), col("lb.bucket").as("bucket"),
        col("qx"), col("qy"))
      .groupBy(col("layout"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("qx")).as("min_qx"), max(col("qx")).as("max_qx"),
        min(col("qy")).as("min_qy"), max(col("qy")).as("max_qy"))
      .withColumn("probe_hit",
        (!(col("max_qx") < ProbeX0 || col("min_qx") > ProbeX1 ||
          col("max_qy") < ProbeY0 || col("min_qy") > ProbeY1))
          .cast("long"))
  }

  /** Full oracle body for [[layoutStats3]] over a caller-provided
    * `__ev(x, y)` CTE.
    */
  def layoutStats3OracleSql(idiv: ZOrder.IDiv = ZOrder.DuckIDiv): String = {
    import ZOrder._
    val shift = 2 * Bits - BucketBits
    s"""__b AS (
       |  SELECT MIN(x) AS xmin, MAX(x) AS xmax,
       |         MIN(y) AS ymin, MAX(y) AS ymax
       |  FROM __ev),
       |__q AS (
       |  SELECT ${quantizeSql("x", "xmin", "xmax", idiv)} AS qx,
       |         ${quantizeSql("y", "ymin", "ymax", idiv)} AS qy
       |  FROM __ev, __b),
       |${hilbertCtesSql()},
       |__k AS (
       |  SELECT qx, qy, hkey,
       |         ${interleaveSql("qx", "qy")} AS zkey,
       |         ((qx << $Bits) + qy) AS linkey
       |  FROM __hk),
       |__t AS (
       |  SELECT 'linear' AS layout, (linkey >> $shift) AS bucket, qx, qy FROM __k
       |  UNION ALL
       |  SELECT 'zorder' AS layout, (zkey >> $shift) AS bucket, qx, qy FROM __k
       |  UNION ALL
       |  SELECT 'hilbert' AS layout, (hkey >> $shift) AS bucket, qx, qy FROM __k),
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
