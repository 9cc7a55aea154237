package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.types._
import graft.cdc.ChunkerParams

/** `cdc_chunks(content BINARY)` — a Catalyst Generator (table-valued
  * expression): one input blob → N chunk rows
  * `(chunk_idx LONG, hash LONG, size LONG, compressed LONG)`.
  *
  * This is the reference's chunking operator surfaced at the SQL layer
  * (SURVEY §2.2-C1's "optionally a Catalyst Generator expression"), so
  * `SELECT doc_id, c.* FROM docs LATERAL VIEW cdc_chunks(payload) c`
  * works alongside the Dataset `flatMap` path (`ChunkRelation`). Generators
  * execute inside GenerateExec which keeps the surrounding stage narrow;
  * eval is a pure kernel call, CodegenFallback only wraps the call itself.
  */
final case class CdcChunks(
    child: Expression,
    minLen: Int,
    maxLen: Int,
    maskBits: Int)
  extends UnaryExpression with Generator with CodegenFallback {

  // maskBits=0 would compute -1L << 64, which the JVM wraps to shift-by-0
  // (mask = all ones → a boundary at every byte past minLen); >= 64 wraps
  // similarly. Fail loudly instead of silently mis-chunking.
  require(maskBits >= 1 && maskBits <= 63,
    s"cdc_chunks maskBits must be in [1, 63], got $maskBits")
  require(minLen >= 1 && maxLen >= minLen,
    s"cdc_chunks needs 1 <= minLen <= maxLen, got minLen=$minLen maxLen=$maxLen")

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_idx", LongType, nullable = false),
    StructField("hash", LongType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("compressed", LongType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cdc_chunks requires BINARY input, got ${child.dataType.catalogString}")

  @transient private lazy val params =
    ChunkerParams(mask = -1L << (64 - maskBits), minLen = minLen, maxLen = maxLen)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val bytes = child.eval(input).asInstanceOf[Array[Byte]]
    if (bytes == null || bytes.isEmpty) Iterator.empty
    else {
      // single-pass zero-copy kernel: for in-table payloads the streaming
      // ChunkIterator's per-chunk stream+copy machinery dominated at small
      // chunk sizes; Chunker.chunkStats hashes/measures in place
      graft.cdc.Chunker.chunkStats(bytes, params).zipWithIndex.map {
        case ((hash, size, compressed), i) =>
          InternalRow(i.toLong, hash, size.toLong, compressed.toLong)
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {
  /** Column-level API: `df.select($"id", cdc_chunks($"payload"))`. */
  def cdc_chunks(
      content: Column,
      minLen: Int = 8 * 1024,
      maxLen: Int = 128 * 1024,
      maskBits: Int = 16): Column =
    org.apache.spark.sql.GraftBridge.column(
      CdcChunks(org.apache.spark.sql.GraftBridge.expression(content),
        minLen, maxLen, maskBits))

  /** SQL-surface builder: `cdc_chunks(content)` with default chunker
    * params, or `cdc_chunks(content, minLen, maxLen, maskBits)` with
    * integer literals. Anything else is a loud error — silently dropping
    * extra arguments would leave SQL callers no way to know their params
    * were ignored.
    */
  private[plans] def fromExprs(exprs: Seq[Expression]): CdcChunks = {
    def lit(e: Expression, name: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, LongType) =>
        // toInt would silently wrap (2^33 -> 0) before the range checks;
        // out-of-Int-range params must fail as loudly as any other bad param
        try Math.toIntExact(v)
        catch {
          case _: ArithmeticException => throw new IllegalArgumentException(
            s"cdc_chunks $name must fit in a 32-bit int, got $v")
        }
      case other => throw new IllegalArgumentException(
        s"cdc_chunks $name must be an integer literal, got $other")
    }
    exprs match {
      case Seq(content) => CdcChunks(content, 8 * 1024, 128 * 1024, 16)
      case Seq(content, minL, maxL, bits) =>
        CdcChunks(content, lit(minL, "minLen"), lit(maxL, "maxLen"), lit(bits, "maskBits"))
      case _ => throw new IllegalArgumentException(
        "cdc_chunks takes (content) or (content, minLen, maxLen, maskBits), " +
          s"got ${exprs.size} arguments")
    }
  }

  /** Register `cdc_chunks` for SQL (`LATERAL VIEW cdc_chunks(b)`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cdc_chunks", fromExprs, "built-in")
}

/** Session-extension entry point: `--conf
  * spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) exposes graft's SQL surface in
  * any session without touching code — the standard deployment hook for
  * custom Catalyst pieces.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("cdc_chunks"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[CdcChunks].getCanonicalName, "cdc_chunks"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CdcChunks.fromExprs(exprs)))
  }
}
