package graft.tools

import graft.SparkSpec
import graft.operators.{ChunkRelation, CompareFormats}
import graft.sources.TableFormat
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class ToolsSpec extends SparkSpec {

  test("git revisions: enumerates and materializes this repo's README history") {
    val readme = Paths.get("/root/repo/README.md")
    val revs = GitRevisions.listRevisions(readme)
    assert(revs.nonEmpty)
    val target = Files.createTempDirectory("graft-revs")
    val out = GitRevisions.checkoutFileRevisions(readme, target)
    assert(out.size == revs.size)
    assert(out.forall(p => Files.size(p) > 0))
    assert(out.head.getFileName.toString.startsWith("README-"))
    // newest revision content equals the committed HEAD version
    val headBytes = new String(
      java.nio.file.Files.readAllBytes(out.head), "UTF-8")
    assert(headBytes.contains("graft"))
  }

  test("git revisions: from/until slice bounds the list") {
    val readme = Paths.get("/root/repo/README.md")
    val revs = GitRevisions.listRevisions(readme)
    assume(revs.size >= 2)
    val target = Files.createTempDirectory("graft-revs2")
    val out = GitRevisions.checkoutFileRevisions(
      readme, target, fromRev = Some(revs(1).take(8)), untilRev = None)
    assert(out.size == revs.size - 1)
  }

  test("param-impact: one result per format, knob changes the written file") {
    val df = spark.range(50000).select(col("id"),
      concat(lit("value-"), col("id")).as("s"))
    val dir = Files.createTempDirectory("graft-pi")
    val results = CompareFormats.paramImpact(
      spark, df,
      TableFormat.ParquetFormat("snappy", rowGroupBytes = Some(1L << 20)),
      Seq(TableFormat.ParquetFormat("snappy", rowGroupBytes = Some(64L << 10))),
      dir)
    assert(results.size == 2)
    assert(results.map(_.format).distinct.size == 2)
    results.foreach(r => assert(r.total_len > 0))
  }

  test("strip diff html renders per-file strips") {
    val rows = Seq(
      (0L, 0L, 1000L, true), (0L, 0L, 2000L, false),
      (1L, 0L, 2000L, false), (1L, 1L, 500L, true))
    val html = Viz.stripDiffHtml(rows)
    assert(html.contains("file 0") && html.contains("file 1"))
    assert(html.contains("opacity:0.5") && html.contains("opacity:1.0"))
  }

  test("aligned strip diff: shared columns line up, absent cells at 0.15") {
    // file 0 has chunks {10, 20}; file 1 has {20, 30}:
    // merged order = 10, 20, 30; each strip renders all three cells
    val segs = Seq(
      (0L, 0L, 10L, 1000L, 0L), (0L, 1L, 20L, 2000L, 0L),
      (1L, 0L, 20L, 2000L, 0L), (1L, 1L, 30L, 500L, 1L))
    val html = Viz.stripDiffHtmlAligned(segs)
    assert(html.contains("file 0") && html.contains("file 1"))
    // chunk 20 is shared (0.5); 10 and 30 unique where present (1.0);
    // each file misses exactly one chunk (0.15)
    assert(html.sliding(12).count(_ == "opacity:0.15") == 2)
    assert(html.sliding(11).count(_ == "opacity:0.5") == 2)
    assert(html.sliding(11).count(_ == "opacity:1.0") == 2)
    // every strip renders the full merged sequence: two strips, 3 cells
    // each (so 6 width-styled cells total)
    assert(html.split("display:flex").length == 3)
    assert(html.sliding("width:".length).count(_ == "width:") == 6)
  }

  test("dup-spans report: planted duplicate pins the spans and the rollup line") {
    import spark.implicits._
    // P = 8 tokens; at window 5 its occurrences produce 8-token spans.
    // Doc 20 is the earliest carrier, doc 21 repeats it mid-document,
    // doc 22 is clean — so: 2 spans (one per carrier doc), 16 dup
    // tokens, 2 docs affected.
    val p = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = Files.createTempDirectory("graft-dupspans")
    Seq(
      (20L, s"$p followed by some unique trailing words"),
      (21L, s"leading unique words then $p and a tail"),
      (22L, "entirely clean document with no repeated passages anywhere"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val (spans, rollup) =
      Cli.dupSpansReport(spark, s"$dir/docs.parquet", windowTokens = 5)
    val rows = spans.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((20L, 1L, 8L), (21L, 5L, 8L)), s"got $rows")
    assert(rollup == "spans=2 dup_tokens=16 docs_affected=2 window=5")
    spans.unpersist()
    // column-contract guard: a parquet without (doc_id, text) must fail
    // loudly, not run on the wrong columns
    Seq((1L, "x")).toDF("id", "body")
      .write.mode("overwrite").parquet(s"$dir/bad.parquet")
    val e = intercept[IllegalArgumentException] {
      Cli.dupSpansReport(spark, s"$dir/bad.parquet", windowTokens = 5)
    }
    assert(e.getMessage.contains("doc_id"))
  }

  test("cut-spans report: writes the cleaned corpus and pins the rollup line") {
    import spark.implicits._
    // doc 30 carries P first and keeps everything (9 tokens); doc 31
    // loses P's 8 tokens of its 13; doc 32 untouched (6 tokens)
    val p = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = Files.createTempDirectory("graft-cutspans")
    Seq(
      (30L, s"$p leading"),
      (31L, s"$p totally different tail of document"),
      (32L, "entirely clean document with no repeats"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val out = s"$dir/cleaned"
    val (rows, rollup) =
      Cli.cutSpansReport(spark, s"$dir/docs.parquet", out, windowTokens = 5)
    rows.unpersist()
    // 28 tokens total, 8 cut (doc 31's copy of P) -> 2857 bp
    assert(rollup ==
      s"docs=3 tokens=28 cut_tokens=8 cut_bp=2857 window=5 out=$out")
    val written = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_cut")).toMap
    assert(written(31L) == "totally different tail of document")
    assert(written(30L).startsWith("alpha beta"), s"keeper cut: $written")
  }

  test("span-index + cut-spans-incremental: nightly refresh round-trips through parquet") {
    import spark.implicits._
    val p = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = Files.createTempDirectory("graft-spanidx")
    // base corpus carries P; index it
    Seq((40L, s"$p base trailing words"), (41L, "unrelated base document here"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/base.parquet")
    val (nWins, idxRollup) = Cli.spanIndexReport(
      spark, s"$dir/base.parquet", s"$dir/idx", windowTokens = 5)
    // doc 40: 11 tokens -> 7 windows; doc 41: 4 tokens -> 0 windows
    assert(nWins == 7L && idxRollup.startsWith("windows=7 window=5"))
    // the batch re-carries P (cut against the index) plus fresh text
    Seq((50L, s"fresh leading words then $p here"),
        (51L, "entirely new batch document nothing shared"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/batch.parquet")
    val (rows, rollup) = Cli.cutSpansIncrementalReport(
      spark, s"$dir/idx", s"$dir/batch.parquet", s"$dir/out", windowTokens = 5)
    rows.unpersist()
    // batch: 13 + 6 = 19 tokens, P's 8 cut from doc 50 -> 4210 bp
    assert(rollup ==
      s"docs=2 tokens=19 cut_tokens=8 cut_bp=4210 window=5 out=$dir/out")
    val written = spark.read.parquet(s"$dir/out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_cut")).toMap
    assert(written(50L) == "fresh leading words then here")
    assert(written(51L) == "entirely new batch document nothing shared")
    // a non-index parquet is refused loudly
    val e = intercept[IllegalArgumentException] {
      Cli.cutSpansIncrementalReport(spark, s"$dir/base.parquet",
        s"$dir/batch.parquet", s"$dir/out2", windowTokens = 5)
    }
    assert(e.getMessage.contains("span-index"))
    // sidecar written beside the parquet, carrying the refresh contract
    val meta = graft.operators.SpanIndexMeta
      .read(spark.sparkContext.hadoopConfiguration, s"$dir/idx")
    assert(meta.contains(graft.operators.SpanIndexMeta(
      windowTokens = 5, hash128 = true, maxDocId = 41L, windows = 7L)))
  }

  test("dup-spans-approx report: exact-below-k estimate pins the rollup") {
    import spark.implicits._
    val p = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = Files.createTempDirectory("graft-spanapprox")
    // doc 60: 9 tokens -> 5 windows (w=5); doc 61 repeats P -> its 4
    // P-only windows duplicate doc 60's; doc 62 contributes nothing
    Seq((60L, s"$p leading"),
        (61L, s"$p totally different tail of document"),
        (62L, "short doc"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val (line, frac) = Cli.dupSpansApproxReport(
      spark, s"$dir/docs.parquet", windowTokens = 5)
    // doc 60: 5 windows; doc 61: 9 windows (13 tokens); total 14,
    // distinct 10 (P's 4 windows shared) -> dup 4, 2857 bp — far below
    // k, so the sketch is exact and the line is fully pinned
    assert(line.startsWith("windows=14 distinct~10 dup~4 dup_bp~2857 window=5"),
      line)
    assert(math.abs(frac - 4.0 / 14) < 1e-9)
  }

  test("dup-lines-approx report: exact-below-k estimate pins the rollup") {
    import spark.implicits._
    val header = "subscribe to the weekly newsletter"
    val dir = Files.createTempDirectory("graft-lineapprox")
    // 3 eligible lines in docs 80/81 share the header (1 dup occurrence);
    // doc 82's lines are unique; the short "--" line is ineligible
    Seq(
      (80L, s"$header\nunique body line of document eighty"),
      (81L, s"$header\n--\neighty one has its own body text"),
      (82L, "no boilerplate in this one at all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val (line, frac) = Cli.dupLinesApproxReport(
      spark, s"$dir/docs.parquet", minLineChars = 10)
    // 5 eligible lines, 4 distinct -> dup 1, 2000 bp — far below k, so
    // the sketch is exact and the line is fully pinned
    assert(line.startsWith("lines=5 distinct~4 dup~1 dup_bp~2000 min_chars=10"),
      line)
    assert(math.abs(frac - 1.0 / 5) < 1e-9)
    // column-contract guard, same as the span twin
    Seq((1L, "x")).toDF("id", "body")
      .write.mode("overwrite").parquet(s"$dir/bad.parquet")
    val e = intercept[IllegalArgumentException] {
      Cli.dupLinesApproxReport(spark, s"$dir/bad.parquet", minLineChars = 10)
    }
    assert(e.getMessage.contains("text column"))
  }

  test("dup-lines + cut-lines: planted boilerplate pins reports and the written corpus") {
    import spark.implicits._
    val header = "subscribe to the weekly newsletter"
    val dir = Files.createTempDirectory("graft-lines")
    Seq(
      (70L, s"$header\nunique body line of document seventy"),
      (71L, s"$header\nseventy one has its own body text"),
      (72L, "no boilerplate in this one\nat all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val (classes, rollup) =
      Cli.dupLinesReport(spark, s"$dir/docs.parquet", minLineChars = 10)
    val cls = classes.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(4), r.getLong(5)))
    assert(cls.toSeq == Seq((header, 2L, 70L, 1L)), cls.toSeq.toString)
    assert(rollup == s"line_classes=1 extra_occurrences=1 " +
      s"dup_chars=${header.length} min_chars=10")
    val out = s"$dir/cleaned"
    val (_, cutRollup) =
      Cli.cutLinesReport(spark, s"$dir/docs.parquet", out, minLineChars = 10)
    // 6 lines, 1 dropped -> 1666 bp
    assert(cutRollup == s"docs=3 lines=6 dropped=1 " +
      s"dropped_chars=${header.length} cut_bp=1666 min_chars=10 out=$out")
    val written = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_clean")).toMap
    assert(written(70L) == s"$header\nunique body line of document seventy")
    assert(written(71L) == "seventy one has its own body text")
    assert(written(72L) == "no boilerplate in this one\nat all")
    // column-contract guard, same as the span tools
    Seq((1L, "x")).toDF("id", "body")
      .write.mode("overwrite").parquet(s"$dir/bad.parquet")
    val e = intercept[IllegalArgumentException] {
      Cli.dupLinesReport(spark, s"$dir/bad.parquet", minLineChars = 10)
    }
    assert(e.getMessage.contains("doc_id"))
  }

  test("line-index + cut-lines-incremental: nightly refresh round-trips and guards") {
    import spark.implicits._
    val header = "subscribe to the weekly newsletter"
    val dir = Files.createTempDirectory("graft-lineidx")
    Seq((80L, s"$header\nbase document eighty body"),
        (81L, "another base document with its own text"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/base.parquet")
    val (n, rollup) = Cli.lineIndexReport(spark, s"$dir/base.parquet",
      s"$dir/idx", minLineChars = 10)
    // 3 eligible distinct base lines
    assert(n == 3L, rollup)
    assert(rollup == s"lines=3 min_chars=10 max_doc_id=81 out=$dir/idx")
    Seq((90L, s"$header\nfresh batch ninety body text"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/batch.parquet")
    val (_, cutRollup) = Cli.cutLinesIncrementalReport(spark, s"$dir/idx",
      s"$dir/batch.parquet", s"$dir/out", minLineChars = 10)
    assert(cutRollup == s"docs=1 lines=2 dropped=1 " +
      s"dropped_chars=${header.length} cut_bp=5000 min_chars=10 out=$dir/out")
    val written = spark.read.parquet(s"$dir/out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_clean")).toMap
    assert(written(90L) == "fresh batch ninety body text")
    // min-length mismatch: the index pins minLineChars=10
    val eMin = intercept[IllegalArgumentException] {
      Cli.cutLinesIncrementalReport(spark, s"$dir/idx",
        s"$dir/batch.parquet", s"$dir/outm", minLineChars = 5)
    }
    assert(eMin.getMessage.contains("minLineChars=10") &&
      eMin.getMessage.contains("5"), eMin.getMessage)
    // id overlap: batch ids must clear the index's max_doc_id
    Seq((81L, s"$header\noverlapping id batch document"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/overlap.parquet")
    val eId = intercept[IllegalArgumentException] {
      Cli.cutLinesIncrementalReport(spark, s"$dir/idx",
        s"$dir/overlap.parquet", s"$dir/outo", minLineChars = 10)
    }
    assert(eId.getMessage.contains("append-only") &&
      eId.getMessage.contains("81"), eId.getMessage)
    // an index without the sidecar is refused with a rebuild hint
    spark.read.parquet(s"$dir/idx").write
      .mode("overwrite").parquet(s"$dir/idx_nometa")
    val eMeta = intercept[IllegalArgumentException] {
      Cli.cutLinesIncrementalReport(spark, s"$dir/idx_nometa",
        s"$dir/batch.parquet", s"$dir/outn", minLineChars = 10)
    }
    assert(eMeta.getMessage.contains("sidecar"), eMeta.getMessage)
  }

  test("cut-spans-incremental: refresh-contract violations fail loudly") {
    import spark.implicits._
    val p = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = Files.createTempDirectory("graft-spanguard")
    Seq((40L, s"$p base trailing words"), (41L, "unrelated base document here"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/base.parquet")
    Cli.spanIndexReport(spark, s"$dir/base.parquet", s"$dir/idx",
      windowTokens = 5)
    Seq((50L, s"fresh leading words then $p here"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/batch.parquet")
    // window-size mismatch: the index pins windowTokens=5
    val eWin = intercept[IllegalArgumentException] {
      Cli.cutSpansIncrementalReport(spark, s"$dir/idx",
        s"$dir/batch.parquet", s"$dir/outw", windowTokens = 7)
    }
    assert(eWin.getMessage.contains("windowTokens=5") &&
      eWin.getMessage.contains("7"), eWin.getMessage)
    // id overlap: a batch id at/below the base's max_doc_id breaks the
    // append-only invariant keep-earliest rests on
    Seq((41L, s"$p overlapping id document"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/overlap.parquet")
    val eId = intercept[IllegalArgumentException] {
      Cli.cutSpansIncrementalReport(spark, s"$dir/idx",
        s"$dir/overlap.parquet", s"$dir/outo", windowTokens = 5)
    }
    assert(eId.getMessage.contains("append-only") &&
      eId.getMessage.contains("41"), eId.getMessage)
    // an index without the sidecar (pre-guard layout) is refused with a
    // rebuild hint rather than run unverified
    spark.read.parquet(s"$dir/idx").write
      .mode("overwrite").parquet(s"$dir/idx_nometa")
    val eMeta = intercept[IllegalArgumentException] {
      Cli.cutSpansIncrementalReport(spark, s"$dir/idx_nometa",
        s"$dir/batch.parquet", s"$dir/outm", windowTokens = 5)
    }
    assert(eMeta.getMessage.contains("sidecar"), eMeta.getMessage)
  }

  test("ordered chunk dump with payloads (reference store_data path)") {
    val dir = Files.createTempDirectory("graft-dump")
    val f = dir.resolve("x.bin")
    val r = new java.util.Random(5)
    val data = new Array[Byte](300000)
    r.nextBytes(data)
    Files.write(f, data)
    val withData = ChunkRelation.chunkFilesWithData(spark, Seq(f.toString))
      .orderBy("chunk_idx").collect()
    assert(withData.map(_.data.length.toLong).sum == data.length.toLong)
    // payload bytes reassemble the file in chunk order
    val reassembled = withData.flatMap(_.data)
    assert(java.util.Arrays.equals(reassembled, data))
  }
}
