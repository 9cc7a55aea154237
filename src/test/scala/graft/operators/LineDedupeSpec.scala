package graft.operators

import org.apache.spark.sql.Row
import graft.SparkSpec

/** [[LineDedupe]] — line-level exact dedup (report + keep-earliest cut)
  * on planted multi-line fixtures: boilerplate repeated across docs,
  * within-doc repeats, the min-length guard, trailing/empty lines, and
  * broadcast-vs-shuffle build parity.
  */
class LineDedupeSpec extends SparkSpec {
  import spark.implicits._

  // doc 1: header + unique body + footer
  // doc 2: same header + different body + same footer + a within-doc
  //        repeated long line
  // doc 3: short-line spam (below minLineChars — never deduped) + the
  //        header AGAIN, plus a trailing empty line
  // doc 4: empty text
  private val header = "subscribe to our newsletter today"
  private val footer = "copyright twenty twenty six all rights reserved"
  private val longLine = "this exact long line repeats inside one doc"
  private def fixture = Seq(
    (1L, s"$header\nunique first body line\n$footer"),
    (2L, s"$header\nanother body line here\n$longLine\n$longLine\n$footer"),
    (3L, s"ok\n--\n$header\n"),
    (4L, "")
  ).toDF("doc_id", "text")

  test("duplicateLines reports classes with keep-earliest anchors") {
    val rep = LineDedupe.duplicateLines(fixture, "doc_id", "text")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(rep.keySet === Set(header, footer, longLine))
    // header occurs in docs 1, 2, 3 — first occurrence (1, 1)
    assert(rep(header) === (3L, 3L, header.length.toLong, 1L, 1L))
    // footer occurs in docs 1, 2 — first occurrence (1, 3)
    assert(rep(footer) === (2L, 2L, footer.length.toLong, 1L, 3L))
    // longLine occurs twice WITHIN doc 2 at ords 3, 4 — first (2, 3)
    assert(rep(longLine) === (2L, 1L, longLine.length.toLong, 2L, 3L))
  }

  test("cutDuplicateLines keeps earliest occurrence, rebuilds in order") {
    val out = LineDedupe.cutDuplicateLines(fixture, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    // doc 1 is the earliest for header and footer — untouched
    assert(out(1L) === (3L, 0L, 0L,
      s"$header\nunique first body line\n$footer"))
    // doc 2 loses header (ord 1), the SECOND longLine (ord 4), footer
    assert(out(2L) === (5L, 3L,
      (header.length + longLine.length + footer.length).toLong,
      s"another body line here\n$longLine"))
    // doc 3: short lines survive the guard; header dropped; the split
    // keeps the trailing empty line ("ok", "--", header, "") → 4 lines
    assert(out(3L) === (4L, 1L, header.length.toLong, "ok\n--\n"))
    // doc 4: one empty line, nothing eligible
    assert(out(4L) === (1L, 0L, 0L, ""))
  }

  test("lineProvenance reports exactly the cut occurrences with keepers") {
    val want = Set(
      (2L, 1L, header.length.toLong, 1L, 1L), // header copy in doc 2
      (3L, 3L, header.length.toLong, 1L, 1L), // header copy in doc 3
      (2L, 5L, footer.length.toLong, 1L, 3L), // footer copy in doc 2
      (2L, 4L, longLine.length.toLong, 2L, 3L)) // within-doc repeat
    for (bcBytes <- Seq(Long.MaxValue, 0L)) {
      val got = LineDedupe.lineProvenance(fixture, "doc_id", "text",
          broadcastDupBytes = bcBytes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got === want, s"bcBytes=$bcBytes")
    }
  }

  test("no duplicated eligible lines → corpus passes through unchanged") {
    val df = Seq((7L, "only one long line lives here\nshort")).toDF("doc_id", "text")
    assert(LineDedupe.duplicateLines(df, "doc_id", "text").count() === 0L)
    val Array(r) = LineDedupe.cutDuplicateLines(df, "doc_id", "text").collect()
    assert(r === Row(7L, 2L, 0L, 0L, "only one long line lives here\nshort"))
  }

  test("minLineChars guard: short duplicated lines are never cut") {
    val df = Seq((1L, "---\nbody a"), (2L, "---\nbody b")).toDF("doc_id", "text")
    assert(LineDedupe.duplicateLines(df, "doc_id", "text", minLineChars = 10)
      .count() === 0L)
    val texts = LineDedupe.cutDuplicateLines(df, "doc_id", "text",
        minLineChars = 10)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(texts === Map(1L -> "---\nbody a", 2L -> "---\nbody b"))
    // the same corpus at minLineChars = 3 DOES cut the repeated "---"
    val cut3 = LineDedupe.cutDuplicateLines(df, "doc_id", "text",
        minLineChars = 3)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(cut3 === Map(1L -> "---\nbody a", 2L -> "body b"))
  }

  test("cutLinesIncremental equals the full cut restricted to batch docs") {
    // base = docs 1-2 of the fixture, batch = re-id'd docs carrying: a
    // base-duplicated line (header — ALL batch copies drop), a fresh
    // batch-internal dup (kept once, batch-earliest), and clean text
    val base = fixture.filter("doc_id <= 2")
    val fresh = "a brand new duplicated batch line appears twice"
    val batch = Seq(
      (10L, s"$header\n$fresh\nbatch ten unique body"),
      (11L, s"$fresh\n$footer\nbatch eleven unique body"))
      .toDF("doc_id", "text")
    val idx = LineDedupe.lineIndex(base, "text")
    val inc = LineDedupe.cutLinesIncremental(idx, batch, "doc_id", "text",
        baseMaxDocId = Some(2L))
      .orderBy("doc_id").collect().toSeq
    val full = LineDedupe.cutDuplicateLines(
        base.unionByName(batch), "doc_id", "text")
      .filter("doc_id >= 10").orderBy("doc_id").collect().toSeq
    assert(inc === full)
    // and the semantics are the intended ones, not just self-consistent
    val texts = inc.map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(texts(10L) === s"$fresh\nbatch ten unique body")
    assert(texts(11L) === "batch eleven unique body")
    idx.unpersist()
  }

  test("cutLinesIncremental: append-only id contract enforced") {
    val base = fixture.filter("doc_id <= 2")
    val idx = LineDedupe.lineIndex(base, "text")
    val overlapping = Seq((2L, "some batch text overlapping the base id"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      LineDedupe.cutLinesIncremental(idx, overlapping, "doc_id", "text",
        baseMaxDocId = Some(2L)).collect()
    }
    assert(e.getMessage.contains("append-only"), e.getMessage)
    idx.unpersist()
  }

  test("broadcast and shuffle builds produce identical cuts") {
    val bcast = LineDedupe.cutDuplicateLines(fixture, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    // broadcastDupBytes = 0 forces the hash-pair shuffle join fallback
    val shuffle = LineDedupe.cutDuplicateLines(fixture, "doc_id", "text",
        broadcastDupBytes = 0L)
      .orderBy("doc_id").collect().toSeq
    assert(bcast === shuffle)
  }

  test("incremental broadcast and shuffle builds produce identical cuts") {
    val base = fixture.filter("doc_id <= 2")
    val batch = Seq(
      (10L, s"$header\nfresh batch dup line appears twice\nten body"),
      (11L, s"fresh batch dup line appears twice\n$footer\neleven body"))
      .toDF("doc_id", "text")
    val idx = LineDedupe.lineIndex(base, "text")
    val bcast = LineDedupe.cutLinesIncremental(idx, batch, "doc_id", "text",
        baseMaxDocId = Some(2L))
      .orderBy("doc_id").collect().toSeq
    val shuffle = LineDedupe.cutLinesIncremental(idx, batch, "doc_id", "text",
        broadcastDupBytes = 0L, baseMaxDocId = Some(2L))
      .orderBy("doc_id").collect().toSeq
    assert(bcast === shuffle)
    idx.unpersist()
  }

  /** Multibyte corpora are where the round-16 byte-exact accounting
    * matters: each CJK char below is 3 UTF-8 bytes, so octet_length ≈ 3×
    * length. The cut must stay byte-exact (keep-earliest, rebuilt text
    * identical across broadcast and forced-shuffle builds) and the
    * reported line_chars stays CHARACTER-based (the oracle contract),
    * while the broadcast/sizing decisions internally measure bytes.
    */
  test("multibyte UTF-8 lines: cut is exact, builds agree, chars reported") {
    val banner = "訂閱我們的電子報以獲得最新消息" // 15 chars, 45 bytes
    val df = Seq(
      (1L, s"$banner\nユニークな本文その一です"),
      (2L, s"$banner\nユニークな本文その二です"),
      (3L, s"$banner\n$banner"))
      .toDF("doc_id", "text")
    val rep = LineDedupe.duplicateLines(df, "doc_id", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // line_chars is the CHARACTER count (15), not the 45-byte octet count
    assert(rep(banner) === (4L, banner.length.toLong, 1L, 1L))
    assert(banner.getBytes("UTF-8").length === 3 * banner.length)
    val bcast = LineDedupe.cutDuplicateLines(df, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val shuffle = LineDedupe.cutDuplicateLines(df, "doc_id", "text",
        broadcastDupBytes = 0L)
      .orderBy("doc_id").collect().toSeq
    assert(bcast === shuffle)
    val texts = bcast.map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(texts(1L) === s"$banner\nユニークな本文その一です")
    assert(texts(2L) === "ユニークな本文その二です")
    assert(texts(3L) === "")
  }

  /** The regime dedup_lines_approx exists for: distinct lines ≫ k, where
    * the KMV estimate (not an exact count) carries the answer. Mirrors
    * KmvSketchSpec's saturated-error-bound pin for the line identity
    * stream specifically: 50k distinct lines at k = 1024 (≈49× saturated)
    * must estimate within 5·rsd = 5/√1023 ≈ 15.6 % — deterministic
    * (xxhash64 over fixed strings), so a pinned regression test, not a
    * flaky statistical one. Duplication (3 copies of every line) must not
    * inflate the distinct estimate, and the dup mass must follow.
    */
  test("approxDuplicateLines saturated: distinct >> k within 5·rsd") {
    val n = 50000L
    val k = 1024
    val distinctDocs = spark.range(n).selectExpr("id AS doc_id",
      "concat('distinct boilerplate line number ', id) AS text")
    val corpus = distinctDocs.unionAll(distinctDocs).unionAll(distinctDocs)
    val Array(r) = LineDedupe.approxDuplicateLines(corpus, "text", k = k)
      .collect()
    assert(r.getLong(0) === 3 * n) // total occurrences are exact
    val est = r.getLong(1)
    val err = math.abs(est - n).toDouble / n
    val bound = 5.0 / math.sqrt(k - 1.0)
    info(f"saturated line-KMV estimate: $est (err ${err * 100}%.2f%%, " +
      f"bound ${bound * 100}%.2f%%)")
    assert(err < bound, s"estimate $est breaks the 5·rsd bound for $n")
    assert(r.getLong(2) === 3 * n - est) // dup mass = total − estimate
  }

  test("approxDuplicateLines: exact below k, matches the exact report") {
    // total eligible lines and distinct-line count from first principles
    val total = 3L + 5L + 1L // doc1: 3 elig, doc2: 5, doc3: header only
    val distinct = 5L // header, footer, longLine, 2 unique body lines
    val Array(r) = LineDedupe.approxDuplicateLines(fixture, "text").collect()
    assert(r.getLong(0) === total)
    assert(r.getLong(1) === distinct) // below k → provably exact
    assert(r.getLong(2) === total - distinct)
    assert(math.abs(r.getDouble(3) - (total - distinct).toDouble / total) < 1e-12)
  }
}
