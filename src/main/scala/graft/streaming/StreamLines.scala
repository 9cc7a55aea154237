package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming line-level dedup — [[graft.operators.LineDedupe.cutDuplicateLines]]
  * as a continuous ingestion filter ("drop the boilerplate lines we
  * already have"), riding [[StreamSpans]]' bounded shard-keyed
  * suppression cache wholesale: the state problem is identical (a
  * first-occurrence event per 128-bit identity), only the identity
  * changes — salted-xxhash64 line pairs instead of token-window hashes.
  *
  * Same architecture, same guarantees (see the StreamSpans scaladoc for
  * the full argument):
  *  - exactness lives in the emitted events + the finish's
  *    `min(struct(f_id, f_ord))` fold — under ANY arrival order and ANY
  *    state eviction;
  *  - state is pure emission suppression: rows ≤ numShards, bytes ≤
  *    numShards × cap × 32 B, per-task memory O(cap); past the cap the
  *    operator degrades to per-occurrence emission absorbed by the
  *    input-sized finish, never to state growth.
  *
  * Line identity here is the hashed pair, not the raw string the batch
  * operator groups by — the stream cannot ship line bytes through a
  * bounded cache. Collision cost is the span family's accepted 2⁻¹²⁸
  * trade ([[graft.operators.LineDedupe.withLineHash]]); both the event
  * substrate and the finish derive identity from the SAME expression
  * ([[graft.operators.LineDedupe.hashedEligibleLines]]), so they can
  * never disagree.
  */
object StreamLines {

  /** `(llo, lhi, f_id, f_ord)` append stream: per eligible line
    * occurrence, an event emits unless the shard cache already holds an
    * equal-or-smaller occurrence for its identity. Consumers MUST fold
    * `min(struct(f_id, f_ord))` per (llo, lhi) ([[foldFirsts]]).
    */
  def firstLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minLineChars: Int = 10,
      numShards: Int = StreamSpans.DefaultShards,
      maxStateLinesPerShard: Int = StreamSpans.DefaultShardCap): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    require(maxStateLinesPerShard >= 0,
      s"negative cap: $maxStateLinesPerShard")
    val spark = docs.sparkSession
    import spark.implicits._
    val cap = maxStateLinesPerShard
    graft.operators.LineDedupe
      .hashedEligibleLines(docs, idCol, textCol, minLineChars)
      .select(col("llo"), col("lhi"), col("id"), col("ord"))
      .as[(Long, Long, Long, Long)]
      // shard on the FULL mixed identity, exactly like StreamSpans
      .groupByKey(r => math.floorMod(
        scala.util.hashing.byteswap64(r._1) ^ r._2, numShards.toLong))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[(Long, Long, Long, Long)],
            state: org.apache.spark.sql.streaming.GroupState[StreamSpans.ShardState]) =>
          StreamSpans.advanceShard(rows, state, cap))
      .toDF("llo", "lhi", "f_id", "f_ord")
  }

  /** Exact global first occurrence per line identity from the raw event
    * stream — the fold that makes cache eviction and out-of-order
    * ingest invisible.
    */
  def foldFirsts(events: DataFrame): DataFrame =
    events
      .groupBy(col("llo"), col("lhi"))
      .agg(min(struct(col("f_id"), col("f_ord"))).as("f"))
      .select(col("llo"), col("lhi"),
        col("f.f_id").as("f_id"), col("f.f_ord").as("f_ord"))

  /** Run the first-line stream over a finite parquet input, then finish
    * batch-side into the exact
    * [[graft.operators.LineDedupe.cutDuplicateLines]] relation
    * `(doc_id, n_lines, n_dropped, chars_dropped, text_clean)`.
    *
    * @param pageTransform applied to BOTH the streaming source and the
    *   batch finish input (identity by default) — the catalog uses it
    *   for the 12-word reflow its synthetic corpus needs; both sides
    *   must see the same lines or the finish would cut against foreign
    *   identities.
    */
  def runCutOnce(
      spark: SparkSession,
      docsPath: String,
      queryName: String,
      idCol: String,
      textCol: String = "text",
      minLineChars: Int = 10,
      numShards: Int = StreamSpans.DefaultShards,
      maxStateLinesPerShard: Int = StreamSpans.DefaultShardCap,
      pageTransform: DataFrame => DataFrame = identity): DataFrame = {
    val events = EventStream.runToMemory(spark, docsPath, queryName,
      df => firstLines(pageTransform(df), idCol, textCol, minLineChars,
        numShards, maxStateLinesPerShard),
      OutputMode.Append())
    graft.operators.LineDedupe.cutFromFirstLines(
      pageTransform(spark.read.parquet(docsPath)), idCol, textCol,
      minLineChars, foldFirsts(events))
  }

  /** Bounded-state streaming twin of
    * [[graft.operators.LineDedupe.approxDuplicateLines]] — the line
    * family's `stream_cdc_approx` discipline: the KMV line-duplication
    * triage run continuously, whose streaming state is the sketch buffer
    * (≤ k longs) plus one counter REGARDLESS of corpus size — the
    * configuration an unbounded ingest monitor actually runs (the
    * suppression-cache cut twin above tracks per-identity events; this
    * one answers only "how much boilerplate is arriving" at fixed
    * state). Exact below k distinct eligible lines; same estimator and
    * same output shape as the batch operator, so they share one oracle.
    */
  def runApproxOnce(
      spark: SparkSession,
      docsPath: String,
      queryName: String,
      textCol: String = "text",
      minLineChars: Int = 10,
      k: Int = graft.functions.KmvSketch.TriageK,
      pageTransform: DataFrame => DataFrame = identity): DataFrame = {
    require(minLineChars >= 1, s"minLineChars must be >= 1, got $minLineChars")
    val agg = EventStream.runToMemory(spark, docsPath, queryName,
      df => approxAgg(pageTransform(df), textCol, minLineChars, k),
      OutputMode.Complete())
    approxFinish(agg)
  }

  /** The twin's streaming aggregation ([[graft.functions.KmvTriage.agg]]
    * over the batch operator's line items), factored so the saturation
    * spec can drive it through an explicit multi-trigger stream (the
    * Complete-mode cross-micro-batch sketch-merge path is distinct from
    * the batch estimator's partial-aggregation merge).
    */
  private[graft] def approxAgg(
      df: DataFrame,
      textCol: String,
      minLineChars: Int,
      k: Int): DataFrame =
    graft.functions.KmvTriage.agg(
      graft.operators.LineDedupe.lineHashRows(df, textCol, minLineChars),
      "lh", "lines", k)

  /** The batch operator's arithmetic, so both twins land on one oracle relation. */
  private[graft] def approxFinish(agg: DataFrame): DataFrame =
    graft.functions.KmvTriage.finish(agg, "lines")
}
