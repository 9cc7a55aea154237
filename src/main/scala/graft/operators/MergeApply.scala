package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Changelog MERGE — apply a batch of keyed upsert/delete changes to a
  * snapshot (the lakehouse `MERGE INTO` shape, and the apply-side dual
  * of [[SnapshotDiff]]'s audit): nightly crawl deltas folded into the
  * kept corpus without rewriting rows that didn't change.
  *
  * Semantics: the changelog carries (key, seq, op, payload…) rows with
  * op ∈ {upsert, delete}. Per key, the change with the HIGHEST seq wins
  * (last-writer-wins); an upsert replaces the snapshot payload (or
  * inserts the key if absent — `WHEN NOT MATCHED THEN INSERT`), a
  * delete removes the key. Earlier changes to the same key are shadowed
  * entirely, so delete-then-reinsert resolves to the reinsert.
  *
  * Scale shape: the changelog (the small side — a nightly delta is
  * orders of magnitude smaller than the corpus) pays the ONLY
  * exchange: one key-keyed aggregation collapses it to its last-writer
  * row via max_by. The snapshot then never shuffles at all — a naive
  * full-outer join on the key would re-exchange the entire corpus
  * payload (and Spark can't broadcast a full outer), so the merge is
  * decomposed into three delta-broadcastable joins: (1) snapshot LEFT
  * JOIN delta applies updates/deletes in a map-only pass; (2) a
  * key-only snapshot projection SEMI JOIN delta finds which delta keys
  * already exist (output ≤ |delta| rows); (3) delta ANTI JOIN that
  * matched-key set yields the inserts. AQE broadcasts the delta side
  * of all three from its runtime size — at 100 TB the corpus is
  * scanned (twice: payload + pruned key column), never exchanged. No
  * window function over the corpus, no global sort. With a delta too
  * large to broadcast (past `spark.sql.autoBroadcastJoinThreshold` /
  * AQE's runtime cut), join (1) degrades to a key-partitioned
  * sort-merge exchange of the corpus — inherent to MERGE itself, not
  * this decomposition; at that delta-to-corpus ratio a rewrite is
  * closer to a full reload than a merge.
  *
  * Determinism contract: seq must be unique per key (the usual
  * changelog position/LSN). With duplicate (key, seq) pairs max_by's
  * winner is tie-ambiguous, same as any MERGE with conflicting
  * same-version writers.
  */
object MergeApply {

  /** Apply `changes` to `snapshot`, returning the merged table with the
    * snapshot's column layout (`keyCol` + `payloadCols`).
    *
    * @param snapshot    current table: keyCol + payloadCols
    * @param changes     changelog: keyCol, seqCol (long, unique per key),
    *                    opCol ('U' upsert | 'D' delete), payloadCols
    *                    (ignored for deletes)
    */
  def merge(
      snapshot: DataFrame,
      changes: DataFrame,
      keyCol: String,
      payloadCols: Seq[String],
      opCol: String = "op",
      seqCol: String = "seq"): DataFrame = {
    require(payloadCols.nonEmpty, "payloadCols must not be empty")
    // collapse the changelog to its last writer per key: ONE exchange,
    // on the delta only (max_by of the packed row over seq)
    val packed = struct((opCol +: payloadCols).map(col): _*)
    val latest = changes
      .groupBy(col(keyCol))
      .agg(max_by(packed, col(seqCol)).as("_c"))
      .select(col(keyCol) +:
        col(s"_c.$opCol").as("_op") +:
        payloadCols.map(c => col(s"_c.$c").as(s"_new_$c")): _*)
    // (1) matched keys: unchanged rows pass through, updates take the
    // change payload, deletes drop — snapshot-preserving left join, so
    // the delta broadcasts and the corpus stays map-only
    val applied = snapshot.join(latest, Seq(keyCol), "left_outer")
      .filter(col("_op").isNull || col("_op") =!= "D")
      .select(col(keyCol) +: payloadCols.map { c =>
        when(col("_op").isNull, col(c))
          .otherwise(col(s"_new_$c")).as(c)
      }: _*)
    // (2) delta keys already present: ≤ |delta| rows out of a key-only
    // (column-pruned) snapshot scan against the broadcast delta
    val matched = snapshot.select(col(keyCol))
      .join(latest.select(col(keyCol)), Seq(keyCol), "left_semi")
    // (3) WHEN NOT MATCHED THEN INSERT: surviving upserts minus matched
    val inserts = latest.filter(col("_op") =!= "D")
      .join(matched, Seq(keyCol), "left_anti")
      .select(col(keyCol) +: payloadCols.map(c => col(s"_new_$c").as(c)): _*)
    applied.unionByName(inserts)
  }

  /** Schema-evolving MERGE — the common lakehouse wrinkle where the
    * changelog ADDS payload columns the snapshot doesn't have yet (a
    * crawler starts emitting a new field mid-stream). `evolvedCols` are
    * columns present in `changes` but absent from `snapshot`: the
    * snapshot is widened with null-filled columns of the changelog's
    * types (the `WHEN NOT MATCHED` default for pre-evolution rows),
    * then the standard [[merge]] decomposition applies. Untouched rows
    * carry NULL in every evolved column; updated and inserted rows
    * carry the changelog's values. Same scale shape as [[merge]]: the
    * widening is a map-only projection, the snapshot still never
    * shuffles.
    */
  def mergeEvolve(
      snapshot: DataFrame,
      changes: DataFrame,
      keyCol: String,
      payloadCols: Seq[String],
      evolvedCols: Seq[String],
      opCol: String = "op",
      seqCol: String = "seq"): DataFrame = {
    require(evolvedCols.nonEmpty, "evolvedCols must not be empty")
    val clash = evolvedCols.filter(snapshot.columns.contains)
    require(clash.isEmpty,
      s"evolvedCols already exist in the snapshot: ${clash.mkString(", ")}")
    val widened = evolvedCols.foldLeft(snapshot) { (df, c) =>
      df.withColumn(c, lit(null).cast(changes.schema(c).dataType))
    }
    merge(widened, changes, keyCol, payloadCols ++ evolvedCols, opCol, seqCol)
  }

  /** One-row accounting of what a merge would do — the dry-run report:
    * counts of updated / inserted / deleted / unchanged keys. The
    * snapshot contributes only its key column (column-pruned at the
    * scan; the full-outer classification exchanges keys + one op byte,
    * never payload — an 8-byte-per-row shuffle is the acceptable price
    * of a dry-run that must also count untouched keys).
    */
  def mergeStats(
      snapshot: DataFrame,
      changes: DataFrame,
      keyCol: String,
      opCol: String = "op",
      seqCol: String = "seq"): DataFrame = {
    val latest = changes
      .groupBy(col(keyCol))
      .agg(max_by(col(opCol), col(seqCol)).as("_op"))
    snapshot.select(col(keyCol)).withColumn("_in_snap", lit(1))
      .join(latest, Seq(keyCol), "full_outer")
      .agg(
        sum(when(col("_op") === "U" && col("_in_snap").isNotNull, 1L)
          .otherwise(0L)).as("updated"),
        sum(when(col("_op") === "U" && col("_in_snap").isNull, 1L)
          .otherwise(0L)).as("inserted"),
        sum(when(col("_op") === "D" && col("_in_snap").isNotNull, 1L)
          .otherwise(0L)).as("deleted"),
        sum(when(col("_op").isNull, 1L).otherwise(0L)).as("unchanged"))
  }
}
