package graft.operators

/** Sidecar metadata for a persisted [[LineDedupe.lineIndex]] — the
  * refresh-contract guard for [[LineDedupe.refreshLines]], the exact
  * analogue of [[SpanIndexMeta]] for the line family. The index parquet
  * alone is just (llo, lhi) pairs: nothing records the min-line-length
  * it was built with, and nothing enforces the append-only id invariant
  * ("every base id < every batch id") that makes the incremental cut
  * exactly keep-earliest. [[LineDedupe.persistLineIndex]] writes this
  * sidecar beside the parquet and [[LineDedupe.refreshLines]] refuses
  * loudly unless every field checks out (and the batch's min id clears
  * `maxDocId`).
  */
final case class LineIndexMeta(
    minLineChars: Int,
    maxDocId: Long,
    lines: Long)

object LineIndexMeta extends IndexSidecar[LineIndexMeta](
    "line-index", "_graft_line_index_meta.json", Seq("llo", "lhi"),
    "minLineChars/max_doc_id") {

  protected def toJson(meta: LineIndexMeta): String =
    s"""{"minLineChars":${meta.minLineChars},""" +
      s""""maxDocId":${meta.maxDocId},"lines":${meta.lines}}"""

  protected def fromFields(field: String => String): LineIndexMeta =
    LineIndexMeta(
      minLineChars = field("minLineChars").toInt,
      maxDocId = field("maxDocId").toLong,
      lines = field("lines").toLong)
}
