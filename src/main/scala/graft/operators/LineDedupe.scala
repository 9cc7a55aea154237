package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

import graft.Conf

/** Line-level exact deduplication across a corpus — the RefinedWeb /
  * FineWeb curation pass that whole-document dedup ([[Dedupe.exactDuplicates]])
  * and token-window span dedup ([[Dedupe.duplicateSpans]]) both miss:
  * boilerplate lines (headers, footers, nav text, license banners) that
  * recur verbatim across otherwise-distinct documents.
  *
  * Granularity ladder, for orientation:
  *   - document: [[Dedupe.exactDuplicates]] (whole-text fingerprint)
  *   - line: THIS — exact `\n`-delimited lines, keep-earliest
  *   - token window: [[Dedupe.duplicateSpans]] (Lee et al. ExactSubstr)
  *
  * Identity inside a batch run is the raw line STRING: the groupBy key
  * ships the line bytes, so equality is byte-exact. The rebuild join
  * runs on the 128-bit salted-hash pair ([[withLineHash]] — 16 B
  * fixed-width keys instead of full line bytes through the exchange)
  * and then BYTE-VERIFIES `line == dup_line` post-join, so a hash
  * collision can never delete an innocent line — exactness is
  * preserved by construction, the hash only routes. (The persisted
  * incremental index is hash-only — see [[lineIndex]] for that
  * documented 2⁻¹²⁸ trade.)
  *
  * Lines shorter than `minLineChars` are never deduplicated: short lines
  * ("", "---", "## Intro") are generic, and cutting them would mangle
  * unrelated documents. This mirrors the reference pipelines' min-length
  * guard on line-wise filtering.
  *
  * 100 TB shape: one corpus-sized line exchange (groupBy line, partial
  * agg collapses hot boilerplate keys map-side), whose result — the
  * duplicated-line index — is cached and counted in the sized session
  * ([[Conf.sizedSession]], fed by a single narrow doc-level byte
  * estimate, no extra explode pass) so the sized partition count
  * governs the real exchange and the expensive groupBy is paid exactly
  * once. The rebuild
  * then either broadcasts that index (decision bounded by the index's
  * measured BYTES, not row count — raw line strings are unbounded, so a
  * row cap alone could build a multi-GB broadcast) or falls back to a
  * shuffle join keyed on the fixed-width (llo, lhi) hash pair: narrow
  * rows, AQE-splittable when a mega-hot boilerplate key skews a
  * partition, never full line bytes as the join key. The final rebuild
  * regroups by doc id — input-bounded.
  */
object LineDedupe {

  /** Broadcast the duplicated-line index only below this many measured
    * bytes (UTF-8 line bytes + fixed-width columns — `octet_length`, not
    * character count, so multibyte corpora don't understate the build by
    * up to 4×). The in-memory hash relation a broadcast builds is a small
    * multiple of this, so 128 MiB keeps the production path comfortably
    * inside executor headroom; a boilerplate-heavy corpus whose dup index
    * exceeds it degrades to the hash-keyed shuffle join, not to an OOM.
    * `0` is the explicit force-shuffle sentinel: the fallback build runs
    * even when the measured index is empty (so the forcing knob and the
    * parity specs genuinely exercise the shuffle path on dup-free input).
    */
  val DefaultBroadcastDupBytes: Long = 128L * 1024 * 1024

  /** The shared front half: duplicated-line classes
    * `(line, n_occ, n_docs, f_id, f_ord)` from the eligible occurrence
    * relation, grouped by the raw line string (byte-exact identity). The
    * keeper (f_id, f_ord) is the globally earliest occurrence — min over
    * (id, ord).
    *
    * Why not group by the 128-bit line hash (keeper and its line bytes
    * carried as a min-struct value): measured in round 19, interleaved at
    * the 100× tier, min-of-3, it lost — dedup_lines 88.2 s string vs
    * 90.0 s hash, dedup_lines_cut 82.7 s vs 85.7 s. The report must ship
    * the keeper's line bytes across the exchange either way, so the hash
    * key only adds two xxhash64 passes and wider pre-agg rows, and it
    * weakens the report's identity to 2⁻¹²⁸ per pair.
    */
  private def dupClassesOf(elig: DataFrame): DataFrame =
    elig
      .groupBy(col("line"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("id")).as("n_docs"),
        min(struct(col("id"), col("ord"))).as("f"))
      .filter(col("n_occ") > 1)
      .select(col("line"), col("n_occ"), col("n_docs"),
        col("f.id").as("f_id"), col("f.ord").as("f_ord"))

  /** `(id, ord, line)` — 1-based line ordinal within each document.
    * `split(text, '\n', -1)` keeps trailing empty lines, matching
    * DuckDB `string_split` (the oracle side) exactly.
    */
  private def linesRelation(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
        col(idCol).cast("long").as("id"),
        posexplode(split(col(textCol).cast("string"), "\n", -1)))
      .select(col("id"), (col("pos") + 1).cast("long").as("ord"),
        col("col").as("line"))

  private def eligible(lines: DataFrame, minLineChars: Int): DataFrame =
    lines.filter(length(col("line")) >= minLineChars)

  /** Σ line bytes (shuffle payload estimate) + per-row UnsafeRow
    * overhead (8 B null bitmap + 2×8 B long slots + 8 B string
    * offset/len word), computed in ONE narrow pass over the DOCUMENT
    * relation — `octet_length(text)` (UTF-8 bytes, what the exchange
    * actually ships) bounds the line bytes from above (it includes the
    * `\n` separators) and the newline count gives the line count, so no
    * explode pass is spent on sizing.
    */
  private def lineShuffleBytesCol(textCol: String): Column = {
    val t = col(textCol).cast("string")
    val nLines = (length(t) - length(translate(t, "\n", ""))).cast("long") + 1L
    coalesce(sum(octet_length(t).cast("long") + nLines * 32L), lit(0L))
  }

  /** `df` re-bound into [[Conf.sizedSession]] for its line exchange,
    * sized by [[lineShuffleBytesCol]] (one narrow pass).
    */
  private def sizedLines(df: DataFrame, textCol: String): DataFrame = {
    val bytes = df.agg(lineShuffleBytesCol(textCol)).collect()(0).getLong(0)
    GraftBridge.rebind(df, Conf.sizedSession(df.sparkSession, bytes, rowBytes = 1L))
  }

  /** Duplicated-line classes: one row per eligible line string occurring
    * more than once in the corpus. Materialized (cached, counted) in the
    * sized session so the sized partition count governs the line
    * exchange.
    *
    * CACHE RELEASE: the returned relation is cached and registered in
    * [[SessionCaches]]' scoped registry. The registry is BOUNDED
    * ([[SessionCaches.MaxScoped]]): a long-lived session looping this
    * (or any of the cut/incremental operators below — they cache their
    * intermediate index the same way) holds O(1) cached relations with
    * no release discipline at all — the oldest registration is evicted
    * (unpersisted, still valid, recomputes on a later consume). For
    * deterministic release, bracket build-and-consume in
    * [[SessionCaches.scope]] (the harness loops do) or call
    * [[SessionCaches.release()* SessionCaches.release()]] /
    * `unpersist()` after consuming.
    *
    * @return `(line, n_occ, n_docs, line_chars, first_doc, first_ord)`
    *         where (first_doc, first_ord) is the globally earliest
    *         occurrence (doc id, then position — the occurrence
    *         [[cutDuplicateLines]] keeps).
    */
  def duplicateLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLineChars: Int = 10): DataFrame = {
    require(minLineChars >= 1, s"minLineChars must be >= 1, got $minLineChars")
    val rep = dupClassesOf(
        eligible(linesRelation(sizedLines(df, textCol), idCol, textCol), minLineChars))
      .select(col("line"), col("n_occ"), col("n_docs"),
        length(col("line")).cast("long").as("line_chars"),
        col("f_id").as("first_doc"), col("f_ord").as("first_ord"))
      .cache()
    SessionCaches.track(rep)
    rep.count()
    GraftBridge.rebind(rep, df.sparkSession)
  }

  /** Keep-earliest line cut: every eligible line occurring more than once
    * keeps only its globally earliest occurrence (doc id, then position);
    * all later occurrences are removed and each document's text is
    * rebuilt from its surviving lines in original order. Ineligible
    * (short) lines always survive. Documents with nothing to cut pass
    * through unchanged — the output has exactly one row per input row.
    *
    * The intermediate dup index is cached until the returned plan is
    * consumed — see the cache-release note on [[duplicateLines]].
    *
    * @param broadcastDupBytes byte bound on broadcasting the
    *   duplicated-line index (see [[DefaultBroadcastDupBytes]]; `0`
    *   forces the hash-pair shuffle join)
    * @return `(doc_id, n_lines, n_dropped, chars_dropped, text_clean)` —
    *         `chars_dropped` counts line bytes only (not the removed
    *         `\n` separators).
    */
  def cutDuplicateLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLineChars: Int = 10,
      broadcastDupBytes: Long = DefaultBroadcastDupBytes): DataFrame = {
    require(minLineChars >= 1, s"minLineChars must be >= 1, got $minLineChars")
    val in = sizedLines(df, textCol)
    val elig = eligible(linesRelation(in, idCol, textCol), minLineChars)
    val dupFirsts = dupClassesOf(elig)
      .select(col("line"), col("f_id"), col("f_ord"))
    GraftBridge.rebind(
      rebuildFromDupFirsts(in, idCol, textCol, elig, dupFirsts, broadcastDupBytes),
      df.sparkSession)
  }

  /** Shared rewrite tail of [[cutDuplicateLines]] /
    * [[cutLinesIncremental]]: given the eligible line occurrences
    * `(id, ord, line)` and the redundancy relation `(line, f_id, f_ord)`
    * — where (f_id, f_ord) is the occurrence to KEEP, or the (-1, -1)
    * sentinel for "every occurrence is redundant" (a line already
    * present in an incremental base) — produce the cleaned corpus.
    *
    * The dup index is hashed ([[withLineHash]]), cached, and counted
    * here, in the caller's sized session: the one action
    * both forces the corpus-sized line groupBy to run at the sized
    * partition count and measures the index bytes for the broadcast
    * decision — the groupBy is never recomputed when the returned plan
    * executes. The occurrences→index join is keyed on (llo, lhi) —
    * 16 B fixed-width, so a mega-hot boilerplate key ships narrow rows
    * that AQE's skew-join split can cleave — and byte-verified
    * (`line == dup_line`) so a hash collision cannot cut an innocent
    * line.
    */
  private def rebuildFromDupFirsts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      elig: DataFrame,
      dupFirsts: DataFrame,
      broadcastDupBytes: Long): DataFrame =
    rebuildFromDrops(df, idCol, textCol,
      dropsWithKeeper(elig, dupFirsts, broadcastDupBytes)
        .select(col("id"), col("ord"), col("line_chars")))

  /** The redundant-occurrence relation shared by the cut rewrite and
    * [[lineProvenance]]: every eligible occurrence that is NOT its
    * line's keeper, `(id, ord, line_chars, f_id, f_ord)` — where
    * (f_id, f_ord) is the keeper (or the (-1, -1) in-base sentinel from
    * [[cutLinesIncremental]]). Carries the whole hash-route/byte-verify
    * and broadcast-vs-shuffle machinery described on
    * [[DefaultBroadcastDupBytes]].
    */
  private def dropsWithKeeper(
      elig: DataFrame,
      dupFirsts: DataFrame,
      broadcastDupBytes: Long): DataFrame = {
    val idx = withLineHash(dupFirsts).cache()
    SessionCaches.track(idx)
    // one action: materializes the cached index (running the line
    // exchange at the sized partition count) and measures its bytes
    // (UTF-8 string bytes via octet_length — the broadcast build holds
    // bytes, not characters — + 48 B of fixed-width columns/row overhead)
    val idxBytes = idx
      .agg(coalesce(sum(octet_length(col("line")).cast("long") + 48L), lit(0L)))
      .collect()(0).getLong(0)
    val dupSide0 = idx.select(col("line").as("dup_line"),
      col("llo"), col("lhi"), col("f_id"), col("f_ord"))
    // production path broadcasts (byte-bounded); fallback shuffles on
    // the fixed-width hash pair, never on the raw string. A zero bound
    // is the explicit force-shuffle sentinel (never broadcast — even an
    // EMPTY index takes the fallback join, so the forcing knob and the
    // parity specs exercise the shuffle path regardless of dup content).
    val dupSide =
      if (broadcastDupBytes > 0 && idxBytes <= broadcastDupBytes)
        broadcast(dupSide0)
      else dupSide0
    withLineHash(elig)
      .join(dupSide, Seq("llo", "lhi"))
      .filter(col("line") === col("dup_line")) // byte-verify: exactness
      .filter(!(col("id") === col("f_id") && col("ord") === col("f_ord")))
      .select(col("id"), col("ord"),
        length(col("line")).cast("long").as("line_chars"),
        col("f_id"), col("f_ord"))
  }

  /** Line-cut PROVENANCE — the audit surface for [[cutDuplicateLines]]:
    * one row per redundant line occurrence (exactly the occurrences the
    * cut removes) with where its kept copy lives. The line-family twin
    * of [[Dedupe.spanProvenance]]: roll it up by (dropped doc's source,
    * keeper's source) and you get the directional "who copies whose
    * boilerplate" mass that decides which scrapes to line-dedupe against
    * each other before mixing.
    *
    * Same plan as the cut's front half (one sized line exchange, the
    * hash-pair-routed byte-verified join, broadcast byte-bounded with
    * the same force-shuffle sentinel); the rebuild tail is simply not
    * run. Cache-release note on [[duplicateLines]] applies.
    *
    * @return `(doc_id, ord, line_chars, kept_doc, kept_ord)` — one row
    *         per removed occurrence; docs with nothing cut contribute
    *         no rows. `line_chars` is the removed line's character count.
    */
  def lineProvenance(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLineChars: Int = 10,
      broadcastDupBytes: Long = DefaultBroadcastDupBytes): DataFrame = {
    require(minLineChars >= 1, s"minLineChars must be >= 1, got $minLineChars")
    val elig = eligible(linesRelation(sizedLines(df, textCol), idCol, textCol), minLineChars)
    val dupFirsts = dupClassesOf(elig)
      .select(col("line"), col("f_id"), col("f_ord"))
    GraftBridge.rebind(
      dropsWithKeeper(elig, dupFirsts, broadcastDupBytes)
        .select(col("id").as("doc_id"), col("ord"), col("line_chars"),
          col("f_id").as("kept_doc"), col("f_ord").as("kept_ord")),
      df.sparkSession)
  }

  /** Cross-source line-duplication matrix: [[lineProvenance]] rolled up
    * by (dropped doc's source, keeper's source) — the directional "who
    * copies whose boilerplate" mass in removed lines/chars (the
    * dedup_lines_matrix catalog query; the line-family twin of the span
    * source matrix). `src` is the `(doc_id, source)` dimension; the
    * provenance relation is dropped-line-sized and both joins are
    * doc_id-keyed (key-partitioned, never a corpus cross), so the
    * rollup stays |sources|²-bounded.
    */
  def lineSourceMatrix(prov: DataFrame, src: DataFrame): DataFrame =
    prov
      .join(src, Seq("doc_id"))
      .join(src.select(col("doc_id").as("kept_doc"),
        col("source").as("kept_source")), Seq("kept_doc"))
      .groupBy(col("source"), col("kept_source"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("line_chars")).as("dup_chars"))

  /** Rebuild tail shared with the streaming twin
    * ([[graft.streaming.StreamLines]]): given `(id, ord, line_chars)`
    * drop decisions, rebuild every document from its surviving lines.
    */
  private[graft] def rebuildFromDrops(
      df: DataFrame,
      idCol: String,
      textCol: String,
      drops: DataFrame): DataFrame = {
    val dropsPerDoc = drops
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("ord"))).as("drop_ords"),
        count(lit(1)).as("n_dropped"),
        sum(col("line_chars")).as("chars_dropped"))
    // rebuild from the original line array (narrow — no second explode):
    // null-mark dropped ordinals, filter, rejoin. `drop_ords` per doc is
    // bounded by the doc's own line count, so no collect_list skew.
    val arr = split(col(textCol).cast("string"), "\n", -1)
    df.select(col(idCol).cast("long").as("id"), arr.as("arr"))
      .join(dropsPerDoc, Seq("id"), "left")
      .select(
        col("id").as("doc_id"),
        size(col("arr")).cast("long").as("n_lines"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("chars_dropped"), lit(0L)).as("chars_dropped"),
        when(col("drop_ords").isNull, array_join(col("arr"), "\n"))
          .otherwise(array_join(filter(
            zip_with(
              col("arr"),
              sequence(lit(1L), size(col("arr")).cast("long")),
              (line: Column, ord: Column) =>
                when(array_contains(col("drop_ords"), ord), lit(null))
                  .otherwise(line)),
            (x: Column) => x.isNotNull), "\n"))
          .as("text_clean"))
  }

  /** 128-bit line identity: two independent codegen'd xxhash64 passes
    * (the second salted). Inside a batch run the hash only ROUTES (the
    * rebuild byte-verifies, so collisions are harmless); for the
    * PERSISTED index the hash IS the identity, so a 100 TB base
    * corpus's line dictionary persists at 16 B/line instead of storing
    * the corpus's distinct text. Collision cost there mirrors the span
    * family's hash128 cut: 2⁻¹²⁸-per-pair, and a collision DROPS a
    * batch line — the accepted trade documented at
    * [[Dedupe.cutDuplicateSpans]].
    */
  private val HiSalt = "graft.line.hi"
  private[graft] def withLineHash(lines: DataFrame): DataFrame =
    lines
      .withColumn("llo", xxhash64(col("line")))
      .withColumn("lhi", xxhash64(lit(HiSalt), col("line")))

  /** Distinct line-identity index of a corpus — the persistable side of
    * [[cutLinesIncremental]]: build once over the already-ingested base
    * (one input-sized distinct over eligible lines), store as parquet,
    * and each incremental batch cuts against it without re-reading the
    * base. Columns (llo, lhi).
    *
    * The returned index is cached (release note on [[duplicateLines]];
    * the incremental specs `unpersist()` it directly when done).
    * [[persistLineIndex]] persists it with the sidecar a refresh needs.
    */
  def lineIndex(
      df: DataFrame,
      textCol: String,
      minLineChars: Int = 10): DataFrame = {
    require(minLineChars >= 1, s"minLineChars must be >= 1, got $minLineChars")
    val lines = sizedLines(df, textCol).select(
      lit(0L).as("id"), lit(0L).as("ord"),
      explode(split(col(textCol).cast("string"), "\n", -1)).as("line"))
    // materialized in the sized session (the distinct's exchange must see
    // the sized partition count), cache-tracked for the harness hook
    // ([[SessionCaches.release()* SessionCaches.release()]])
    val idx = withLineHash(eligible(lines, minLineChars))
      .select(col("llo"), col("lhi")).distinct()
      .cache()
    SessionCaches.track(idx)
    idx.count()
    GraftBridge.rebind(idx, df.sparkSession)
  }

  /** Eligible `(id, ord, line, llo, lhi)` relation — the streaming
    * twin's event substrate and the finish side of
    * [[cutFromFirstLines]] derive line identity identically from this.
    */
  private[graft] def hashedEligibleLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLineChars: Int): DataFrame =
    withLineHash(eligible(linesRelation(df, idCol, textCol), minLineChars))

  /** Finish a first-occurrence relation `(llo, lhi, f_id, f_ord)` —
    * e.g. the fold of [[graft.streaming.StreamLines]]' event stream —
    * into the exact [[cutDuplicateLines]] output: an occurrence is cut
    * iff it is not its line's recorded first. Unique lines keep
    * themselves (their only occurrence IS the first), so the relation
    * may carry every eligible line, not just duplicated ones. The drop
    * relation is materialized (cached, counted) in the sized session so
    * the corpus-sized occurrences↔firsts join runs at the sized
    * partition count; cache-tracked (release note on
    * [[duplicateLines]]).
    */
  def cutFromFirstLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLineChars: Int,
      firsts: DataFrame): DataFrame = {
    require(minLineChars >= 1, s"minLineChars must be >= 1, got $minLineChars")
    val in = sizedLines(df, textCol)
    val drops = hashedEligibleLines(in, idCol, textCol, minLineChars)
      .join(firsts, Seq("llo", "lhi"))
      .filter(!(col("id") === col("f_id") && col("ord") === col("f_ord")))
      .select(col("id"), col("ord"),
        length(col("line")).cast("long").as("line_chars"))
      .cache()
    SessionCaches.track(drops)
    drops.count()
    GraftBridge.rebind(rebuildFromDrops(in, idCol, textCol, drops), df.sparkSession)
  }

  /** Incremental keep-earliest line cut — the production REFRESH shape
    * of [[cutDuplicateLines]]: tonight's `batch` of new documents is
    * cleaned against the already-ingested corpus's persisted
    * [[lineIndex]] plus itself, WITHOUT re-reading the base corpus. A
    * batch line occurrence is redundant iff its identity exists in the
    * base index (the base copy is earlier by the append-only id
    * contract: every base id < every batch id), or the line recurs
    * within the batch and this occurrence is not the batch-earliest.
    * Under that contract the result is EXACTLY
    * `cutDuplicateLines(base ∪ batch)` restricted to batch docs
    * (spec-pinned; the catalog oracle verifies independently by running
    * the full keep-earliest cut in SQL and filtering to batch ids).
    *
    * Cost per refresh: one narrow batch line pass + one lookup join of
    * the batch's distinct lines into the index — never a base re-read.
    * The intermediate dup index is cached until the returned plan is
    * consumed — see the cache-release note on [[duplicateLines]].
    *
    * @param baseMaxDocId when set, the append-only contract is ENFORCED
    *   (one cheap aggregate folded into the sizing pass): the batch's
    *   smallest id must exceed it or the call fails loudly. The
    *   line-index sidecar ([[LineIndexMeta]]) persists this value
    *   ([[refreshLines]] passes it); pass None only when the caller
    *   proves the invariant some other way.
    */
  def cutLinesIncremental(
      baseLines: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      minLineChars: Int = 10,
      broadcastDupBytes: Long = DefaultBroadcastDupBytes,
      baseMaxDocId: Option[Long] = None): DataFrame = {
    require(minLineChars >= 1, s"minLineChars must be >= 1, got $minLineChars")
    // the consumed index is hot: refresh its LRU position so a loop of
    // incremental cuts never lets its own cold results evict it
    SessionCaches.touch(baseLines)
    val session = batch.sparkSession
    // fold the contract check into the sizing aggregate — one narrow
    // doc-level pass, no explode
    val statsRow = batch
      .agg(lineShuffleBytesCol(textCol), min(col(idCol).cast("long")))
      .head()
    baseMaxDocId.foreach { maxBase =>
      if (!statsRow.isNullAt(1)) {
        val minBatch = statsRow.getLong(1)
        require(minBatch > maxBase,
          s"append-only id contract violated: batch min doc id $minBatch " +
            s"<= base corpus max doc id $maxBase. cutLinesIncremental is " +
            "exactly keep-earliest ONLY when every base id < every batch " +
            "id; cut the union with cutDuplicateLines instead, or re-id " +
            "the batch above the base range.")
      }
    }
    val in = GraftBridge.rebind(batch,
      Conf.sizedSession(session, statsRow.getLong(0), rowBytes = 1L))
    val lines = eligible(linesRelation(in, idCol, textCol), minLineChars)
    val elig = withLineHash(lines)
    // batch-local line stats, then one lookup join into the base
    // index: in-base lines keep NOTHING in the batch (the (-1, -1)
    // sentinel matches no real occurrence), batch-only lines with
    // n > 1 keep their batch-earliest
    val batchAgg = elig
      .groupBy(col("line"), col("llo"), col("lhi"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("id"), col("ord"))).as("f"))
    val dupFirsts = batchAgg
      .join(baseLines.select(col("llo"), col("lhi"))
        .withColumn("in_base", lit(true)), Seq("llo", "lhi"), "left")
      .filter(col("in_base").isNotNull || col("n") > 1)
      .select(col("line"),
        when(col("in_base").isNotNull, lit(-1L))
          .otherwise(col("f.id")).as("f_id"),
        when(col("in_base").isNotNull, lit(-1L))
          .otherwise(col("f.ord")).as("f_ord"))
    GraftBridge.rebind(
      rebuildFromDupFirsts(in, idCol, textCol,
        lines.select(col("id"), col("ord"), col("line")), dupFirsts,
        broadcastDupBytes),
      session)
  }

  /** [[lineIndex]] of `docs` persisted at `dir` with its
    * [[LineIndexMeta]] sidecar — the index [[refreshLines]] cuts
    * against. Refuses an empty corpus, named by `source`.
    */
  def persistLineIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      minLineChars: Int,
      source: String): LineIndexMeta =
    LineIndexMeta.persist(docs, idCol, source, dir)(
      lineIndex(docs, textCol, minLineChars))(
      LineIndexMeta(minLineChars, _, _))

  /** [[cutLinesIncremental]] of `batch` against the index
    * [[persistLineIndex]] wrote at `indexDir`, with the refresh contract
    * enforced: the index needs its sidecar, built at this
    * `minLineChars`, and every batch id must clear the base's max doc id.
    */
  def refreshLines(
      indexDir: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      minLineChars: Int): DataFrame = {
    val (idx, meta) = LineIndexMeta.load(batch.sparkSession, indexDir)
    require(meta.minLineChars == minLineChars,
      s"line-index at $indexDir was built with minLineChars=${meta.minLineChars} " +
        s"but this refresh asked for $minLineChars — a mismatched " +
        "eligibility floor cuts the wrong lines; rerun with the index's " +
        "floor or rebuild the index")
    cutLinesIncremental(idx, batch, idCol, textCol, minLineChars,
      baseMaxDocId = Some(meta.maxDocId))
  }

  /** One row per eligible line's 64-bit hash `lh` — the line family's
    * triage items.
    */
  private[graft] def lineHashRows(
      df: DataFrame,
      textCol: String,
      minLineChars: Int): DataFrame =
    eligible(df.select(
        explode(split(col(textCol).cast("string"), "\n", -1)).as("line")),
      minLineChars)
      .select(xxhash64(col("line")).as("lh"))

  /** Approximate line-duplication triage — the KMV first-pass tier of
    * the line family ([[graft.functions.KmvTriage]]): ONE narrow pass
    * over the corpus counting eligible line occurrences and sketching
    * distinct line identities, the "how much boilerplate is there"
    * estimate before committing to a full [[cutDuplicateLines]].
    *
    * @return materialized, one row `(total_lines, kmv_distinct_lines,
    *         dup_lines, dup_fraction)`
    */
  def approxDuplicateLines(
      df: DataFrame,
      textCol: String,
      minLineChars: Int = 10,
      k: Int = graft.functions.KmvSketch.TriageK): DataFrame = {
    require(minLineChars >= 1, s"minLineChars must be >= 1, got $minLineChars")
    graft.functions.KmvTriage.run(
      lineHashRows(df, textCol, minLineChars), "lh", "lines", k)
  }
}
