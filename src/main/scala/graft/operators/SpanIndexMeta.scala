package graft.operators

/** Sidecar metadata for a persisted span [[Dedupe.windowIndex]] — the
  * refresh-contract guard for [[Dedupe.refreshSpans]]. The index parquet
  * alone is just (wlo, whi) pairs: nothing in it records the window size
  * or hash width it was built with, and nothing enforces the append-only
  * id invariant ("every base id < every batch id") that makes the
  * incremental cut exactly keep-earliest. [[Dedupe.persistSpanIndex]]
  * writes this sidecar beside the parquet and [[Dedupe.refreshSpans]]
  * refuses loudly unless every field checks out (and the batch's min id
  * clears `maxDocId`).
  */
final case class SpanIndexMeta(
    windowTokens: Int,
    hash128: Boolean,
    maxDocId: Long,
    windows: Long)

object SpanIndexMeta extends IndexSidecar[SpanIndexMeta](
    "span-index", "_graft_span_index_meta.json", Seq("wlo", "whi"),
    "windowTokens/hash128/max_doc_id") {

  protected def toJson(meta: SpanIndexMeta): String =
    s"""{"windowTokens":${meta.windowTokens},"hash128":${meta.hash128},""" +
      s""""maxDocId":${meta.maxDocId},"windows":${meta.windows}}"""

  protected def fromFields(field: String => String): SpanIndexMeta =
    SpanIndexMeta(
      windowTokens = field("windowTokens").toInt,
      hash128 = field("hash128").toBoolean,
      maxDocId = field("maxDocId").toLong,
      windows = field("windows").toLong)
}
