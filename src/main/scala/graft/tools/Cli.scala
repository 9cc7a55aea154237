package graft.tools

import org.apache.spark.sql.SparkSession
import graft.Harness
import graft.operators.{CompareFormats, ChunkRelation, Estimator}
import graft.sources.{PageProfiler, TableFormat}
import graft.synthetic.{DType, DataGenerator, EditPoints}
import java.nio.file.{Files, Paths}

/** Command-line surface mirroring the reference's `de` CLI (de/cli.py):
  *
  *   sbt "runMain graft.tools.Cli dedup FILE..."            (de dedup)
  *   sbt "runMain graft.tools.Cli stats DIR [OUTDIR] [--with-sqlite]"  (de stats)
  *   sbt "runMain graft.tools.Cli synthetic SCHEMA_JSON [OUTDIR] [--with-sqlite]"
  *   sbt "runMain graft.tools.Cli page-chunks FILE..."      (de page-chunks)
  *   sbt "runMain graft.tools.Cli profile TABLE.parquet"    (column profile)
  *   sbt "runMain graft.tools.Cli viz FILE... OUT.png"      (provenance strip)
  */
object Cli {

  /** Split `--` flags from positional args, FAILING on any flag outside
    * `known` — silently dropping a typo like `--with-sqlit` (or an
    * unsupported reference flag like `--with-json`) would run the command
    * without the requested behavior.
    */
  private def parseFlags(args: List[String], known: Set[String]): (Set[String], List[String]) = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val unknown = flags.filterNot(known)
    if (unknown.nonEmpty) {
      System.err.println(
        s"unknown flag(s): ${unknown.mkString(" ")} (supported: ${known.toSeq.sorted.mkString(" ")})")
      sys.exit(2)
    }
    (flags.toSet, positional)
  }

  /** `dup-spans` body, factored for ToolsSpec: the span relation (cached;
    * caller unpersists) plus the rollup line
    * `spans=N dup_tokens=N docs_affected=N window=W`.
    */
  private[tools] def dupSpansReport(
      spark: SparkSession,
      file: String,
      windowTokens: Int): (org.apache.spark.sql.DataFrame, String) = {
    val docs = spark.read.parquet(file)
    require(docs.columns.contains("doc_id") && docs.columns.contains("text"),
      s"expected (doc_id, text) columns, got ${docs.columns.mkString(", ")}")
    val spans = graft.operators.Dedupe
      .duplicateSpans(docs, "doc_id", "text", windowTokens = windowTokens)
    val agg = spans.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("span_tokens"),
        org.apache.spark.sql.functions.lit(0L)),
      org.apache.spark.sql.functions.countDistinct("doc_id")).head()
    (spans, s"spans=${agg.getLong(0)} dup_tokens=${agg.getLong(1)} " +
      s"docs_affected=${agg.getLong(2)} window=$windowTokens")
  }

  /** `cut-spans` body, factored for ToolsSpec: runs the keep-earliest
    * cut (hash128), writes the cleaned corpus parquet to `outDir`, and
    * returns (cut relation, rollup line
    * `docs=N tokens=N cut_tokens=N cut_bp=N window=W out=DIR`).
    */
  private[tools] def cutSpansReport(
      spark: SparkSession,
      file: String,
      outDir: String,
      windowTokens: Int): (org.apache.spark.sql.DataFrame, String) = {
    val docs = spark.read.parquet(file)
    require(docs.columns.contains("doc_id") && docs.columns.contains("text"),
      s"expected (doc_id, text) columns, got ${docs.columns.mkString(", ")}")
    val rows = graft.operators.Dedupe.cutDuplicateSpans(
      docs, "doc_id", "text", windowTokens = windowTokens, hash128 = true)
    rows.write.mode("overwrite").parquet(outDir)
    val agg = rows.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("n_tokens"),
        org.apache.spark.sql.functions.lit(0L)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("cut_tokens"),
        org.apache.spark.sql.functions.lit(0L))).head()
    val (nDocs, nTok, nCut) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    val bp = if (nTok == 0) 0L else nCut * 10000L / nTok
    (rows, s"docs=$nDocs tokens=$nTok cut_tokens=$nCut cut_bp=$bp " +
      s"window=$windowTokens out=$outDir")
  }

  /** `dup-spans-approx` body, factored for ToolsSpec: the KMV
    * first-pass duplication estimate (exact below the sketch's k — see
    * the dedup_spans_approx catalog query this mirrors). Returns
    * (rollup line, dup_fraction).
    */
  private[tools] def dupSpansApproxReport(
      spark: SparkSession,
      file: String,
      windowTokens: Int): (String, Double) = {
    import spark.implicits._
    val docs = spark.read.parquet(file)
    require(docs.columns.contains("text"),
      s"expected a text column, got ${docs.columns.mkString(", ")}")
    val w = windowTokens
    val row = docs
      .select(org.apache.spark.sql.functions.col("text").cast("string"))
      .as[String]
      .flatMap(t => graft.operators.Dedupe.windowHashes(t, w))
      .toDF("win")
      .agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        graft.functions.KmvSketch.kmv_distinct(
          org.apache.spark.sql.functions.col("win"),
          graft.functions.KmvSketch.TriageK))
      .head()
    val total = row.getLong(0)
    val kmv = row.getLong(1)
    val dup = math.max(0L, total - kmv)
    val frac = if (total == 0) 0.0 else dup.toDouble / total
    val bp = math.round(frac * 10000).toInt
    (f"windows=$total distinct~$kmv dup~$dup dup_bp~$bp " +
      s"window=$w (KMV k=${graft.functions.KmvSketch.TriageK}; " +
      "exact when distinct < k)", frac)
  }

  /** `dup-lines` body, factored for ToolsSpec: duplicated-line classes
    * ([[graft.operators.LineDedupe.duplicateLines]]) over a documents
    * parquet. Returns (classes relation, rollup
    * `line_classes=N extra_occurrences=N dup_chars=N min_chars=M`).
    */
  private[tools] def dupLinesReport(
      spark: SparkSession,
      file: String,
      minLineChars: Int): (org.apache.spark.sql.DataFrame, String) = {
    val docs = spark.read.parquet(file)
    require(docs.columns.contains("doc_id") && docs.columns.contains("text"),
      s"expected (doc_id, text) columns, got ${docs.columns.mkString(", ")}")
    val classes = graft.operators.LineDedupe
      .duplicateLines(docs, "doc_id", "text", minLineChars = minLineChars)
    val agg = classes.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("n_occ") - 1),
        org.apache.spark.sql.functions.lit(0L)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum(
          (org.apache.spark.sql.functions.col("n_occ") - 1) *
            org.apache.spark.sql.functions.col("line_chars")),
        org.apache.spark.sql.functions.lit(0L))).head()
    (classes, s"line_classes=${agg.getLong(0)} " +
      s"extra_occurrences=${agg.getLong(1)} dup_chars=${agg.getLong(2)} " +
      s"min_chars=$minLineChars")
  }

  /** `dup-lines-approx` body, factored for ToolsSpec: the KMV first-pass
    * line-duplication estimate
    * ([[graft.operators.LineDedupe.approxDuplicateLines]] — one narrow
    * pass, one ≤k-long sketch buffer per partition on the wire; exact
    * below the sketch's k, the dedup_lines_approx catalog query this
    * mirrors). The triage to run before committing to a full `cut-lines`
    * over a big corpus. Returns (rollup line, dup_fraction).
    */
  private[tools] def dupLinesApproxReport(
      spark: SparkSession,
      file: String,
      minLineChars: Int): (String, Double) = {
    val docs = spark.read.parquet(file)
    require(docs.columns.contains("text"),
      s"expected a text column, got ${docs.columns.mkString(", ")}")
    val row = graft.operators.LineDedupe
      .approxDuplicateLines(docs, "text", minLineChars = minLineChars)
      .head()
    val (total, kmv, dup, frac) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))
    val bp = math.round(frac * 10000).toInt
    (s"lines=$total distinct~$kmv dup~$dup dup_bp~$bp " +
      s"min_chars=$minLineChars (KMV k=${graft.functions.KmvSketch.TriageK}; " +
      "exact when distinct < k)", frac)
  }

  /** `cut-lines` body, factored for ToolsSpec: the keep-earliest line
    * cut ([[graft.operators.LineDedupe.cutDuplicateLines]]), written as
    * parquet to `outDir`. Returns (cut relation, rollup
    * `docs=N lines=N dropped=N dropped_chars=N cut_bp=N min_chars=M out=DIR`).
    */
  private[tools] def cutLinesReport(
      spark: SparkSession,
      file: String,
      outDir: String,
      minLineChars: Int): (org.apache.spark.sql.DataFrame, String) = {
    val docs = spark.read.parquet(file)
    require(docs.columns.contains("doc_id") && docs.columns.contains("text"),
      s"expected (doc_id, text) columns, got ${docs.columns.mkString(", ")}")
    val rows = graft.operators.LineDedupe.cutDuplicateLines(
      docs, "doc_id", "text", minLineChars = minLineChars)
    rows.write.mode("overwrite").parquet(outDir)
    val out = spark.read.parquet(outDir)
    val agg = out.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("n_lines"),
        org.apache.spark.sql.functions.lit(0L)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("n_dropped"),
        org.apache.spark.sql.functions.lit(0L)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("chars_dropped"),
        org.apache.spark.sql.functions.lit(0L))).head()
    val (nDocs, nLines, nDrop, nChars) =
      (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
    val bp = if (nLines == 0) 0L else nDrop * 10000L / nLines
    (out, s"docs=$nDocs lines=$nLines dropped=$nDrop " +
      s"dropped_chars=$nChars cut_bp=$bp min_chars=$minLineChars out=$outDir")
  }

  /** `line-index` body, factored for ToolsSpec: builds the 128-bit
    * distinct line-identity index
    * ([[graft.operators.LineDedupe.lineIndex]]), writes it to `outDir`
    * with a [[graft.operators.LineIndexMeta]] sidecar (minLineChars,
    * max_doc_id, line count — the refresh contract
    * `cut-lines-incremental` validates), returns
    * (line count, rollup `lines=N min_chars=M max_doc_id=N out=DIR`).
    */
  private[tools] def lineIndexReport(
      spark: SparkSession,
      file: String,
      outDir: String,
      minLineChars: Int): (Long, String) = {
    val docs = spark.read.parquet(file)
    require(docs.columns.contains("doc_id") && docs.columns.contains("text"),
      s"expected (doc_id, text) columns, got ${docs.columns.mkString(", ")}")
    // max(doc_id) is NULL on an empty parquet — refuse loudly instead of
    // dying on a bare NullPointerException: an index of nothing is
    // almost certainly a pipeline bug (wrong path, empty extract)
    val maxRow = docs
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("doc_id").cast("long")))
      .head()
    require(!maxRow.isNullAt(0),
      s"empty documents parquet (0 rows): $file — refusing to build a " +
        "line index of nothing; check the input path")
    val maxDocId = maxRow.getLong(0)
    val idx = graft.operators.LineDedupe.lineIndex(
      docs, "text", minLineChars = minLineChars)
    idx.write.mode("overwrite").parquet(outDir)
    val n = idx.count()
    idx.unpersist()
    // after the parquet overwrite (which clears the dir first) so the
    // sidecar survives; `_`-prefixed so parquet readers skip it
    graft.operators.LineIndexMeta.write(
      spark.sparkContext.hadoopConfiguration, outDir,
      graft.operators.LineIndexMeta(minLineChars, maxDocId = maxDocId,
        lines = n))
    (n, s"lines=$n min_chars=$minLineChars max_doc_id=$maxDocId out=$outDir")
  }

  /** `cut-lines-incremental` body, factored for ToolsSpec: cuts the
    * batch against a persisted line-index (must have been built by
    * `line-index`), writes the cleaned batch, returns
    * (cut relation, rollup like [[cutLinesReport]]'s).
    */
  private[tools] def cutLinesIncrementalReport(
      spark: SparkSession,
      idxDir: String,
      file: String,
      outDir: String,
      minLineChars: Int): (org.apache.spark.sql.DataFrame, String) = {
    val docs = spark.read.parquet(file)
    require(docs.columns.contains("doc_id") && docs.columns.contains("text"),
      s"expected (doc_id, text) columns, got ${docs.columns.mkString(", ")}")
    val idx = spark.read.parquet(idxDir)
    require(idx.columns.sorted.sameElements(Array("lhi", "llo")),
      s"not a line-index (expected (llo, lhi) columns): ${idx.columns.mkString(", ")}")
    // refresh-contract guard: the sidecar records what the index was
    // built with; a silent mismatch here is a silently WRONG cut, so
    // refuse loudly on every discrepancy (and on a pre-sidecar index)
    val meta = graft.operators.LineIndexMeta
      .read(spark.sparkContext.hadoopConfiguration, idxDir)
      .getOrElse(throw new IllegalArgumentException(
        s"line-index at $idxDir has no ${graft.operators.LineIndexMeta.FileName} " +
          "sidecar — rebuild it with `line-index` (the sidecar pins " +
          "minLineChars/max_doc_id, without which this refresh cannot " +
          "verify its exactness contract)"))
    require(meta.minLineChars == minLineChars,
      s"line-index at $idxDir was built with minLineChars=${meta.minLineChars} " +
        s"but this refresh asked for $minLineChars — a mismatched " +
        "eligibility floor cuts the wrong lines; rerun with the index's " +
        "floor or rebuild the index")
    val rows = graft.operators.LineDedupe.cutLinesIncremental(
      idx, docs, "doc_id", "text", minLineChars = minLineChars,
      baseMaxDocId = Some(meta.maxDocId))
    rows.write.mode("overwrite").parquet(outDir)
    val out = spark.read.parquet(outDir)
    val agg = out.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("n_lines"),
        org.apache.spark.sql.functions.lit(0L)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("n_dropped"),
        org.apache.spark.sql.functions.lit(0L)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("chars_dropped"),
        org.apache.spark.sql.functions.lit(0L))).head()
    val (nDocs, nLines, nDrop, nChars) =
      (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
    val bp = if (nLines == 0) 0L else nDrop * 10000L / nLines
    (out, s"docs=$nDocs lines=$nLines dropped=$nDrop " +
      s"dropped_chars=$nChars cut_bp=$bp min_chars=$minLineChars out=$outDir")
  }

  /** `span-index` body, factored for ToolsSpec: builds the hash128
    * distinct window index, writes it to `outDir` with a
    * [[graft.operators.SpanIndexMeta]] sidecar (windowTokens, hash128,
    * max_doc_id, window count — the refresh contract
    * `cut-spans-incremental` validates), returns
    * (window count, rollup `windows=N window=W max_doc_id=N out=DIR`).
    */
  private[tools] def spanIndexReport(
      spark: SparkSession,
      file: String,
      outDir: String,
      windowTokens: Int): (Long, String) = {
    val docs = spark.read.parquet(file)
    require(docs.columns.contains("doc_id") && docs.columns.contains("text"),
      s"expected (doc_id, text) columns, got ${docs.columns.mkString(", ")}")
    // max(doc_id) is NULL on an empty parquet — refuse loudly instead of
    // dying on a bare NullPointerException (see lineIndexReport)
    val maxRow = docs
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("doc_id").cast("long")))
      .head()
    require(!maxRow.isNullAt(0),
      s"empty documents parquet (0 rows): $file — refusing to build a " +
        "span index of nothing; check the input path")
    val maxDocId = maxRow.getLong(0)
    val idx = graft.operators.Dedupe.windowIndex(
      docs, "text", windowTokens = windowTokens, hash128 = true)
    idx.write.mode("overwrite").parquet(outDir)
    val n = idx.count()
    idx.unpersist()
    // after the parquet overwrite (which clears the dir first) so the
    // sidecar survives; `_`-prefixed so parquet readers skip it
    graft.operators.SpanIndexMeta.write(
      spark.sparkContext.hadoopConfiguration, outDir,
      graft.operators.SpanIndexMeta(windowTokens, hash128 = true,
        maxDocId = maxDocId, windows = n))
    (n, s"windows=$n window=$windowTokens max_doc_id=$maxDocId out=$outDir")
  }

  /** `cut-spans-incremental` body, factored for ToolsSpec: cuts the
    * batch against a persisted span-index (hash128 — must have been
    * built by `span-index`), writes the cleaned batch, returns
    * (cut relation, rollup like [[cutSpansReport]]'s).
    */
  private[tools] def cutSpansIncrementalReport(
      spark: SparkSession,
      idxDir: String,
      file: String,
      outDir: String,
      windowTokens: Int): (org.apache.spark.sql.DataFrame, String) = {
    val docs = spark.read.parquet(file)
    require(docs.columns.contains("doc_id") && docs.columns.contains("text"),
      s"expected (doc_id, text) columns, got ${docs.columns.mkString(", ")}")
    val idx = spark.read.parquet(idxDir)
    require(idx.columns.sorted.sameElements(Array("whi", "wlo")),
      s"not a span-index (expected (wlo, whi) columns): ${idx.columns.mkString(", ")}")
    // refresh-contract guard: the sidecar records what the index was
    // built with; a silent mismatch here is a silently WRONG cut, so
    // refuse loudly on every discrepancy (and on a pre-sidecar index)
    val meta = graft.operators.SpanIndexMeta
      .read(spark.sparkContext.hadoopConfiguration, idxDir)
      .getOrElse(throw new IllegalArgumentException(
        s"span-index at $idxDir has no ${graft.operators.SpanIndexMeta.FileName} " +
          "sidecar — rebuild it with `span-index` (the sidecar pins " +
          "windowTokens/hash128/max_doc_id, without which this refresh " +
          "cannot verify its exactness contract)"))
    require(meta.windowTokens == windowTokens,
      s"span-index at $idxDir was built with windowTokens=${meta.windowTokens} " +
        s"but this refresh asked for $windowTokens — a mismatched window " +
        "size cuts the wrong spans; rerun with the index's window size " +
        "or rebuild the index")
    require(meta.hash128,
      s"span-index at $idxDir was built 64-bit (hash128=false) but " +
        "cut-spans-incremental cuts at 128-bit identity — rebuild the " +
        "index with `span-index`")
    val rows = graft.operators.Dedupe.cutSpansIncremental(
      idx, docs, "doc_id", "text", windowTokens = windowTokens,
      hash128 = true, baseMaxDocId = Some(meta.maxDocId))
    rows.write.mode("overwrite").parquet(outDir)
    val agg = rows.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("n_tokens"),
        org.apache.spark.sql.functions.lit(0L)),
      org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("cut_tokens"),
        org.apache.spark.sql.functions.lit(0L))).head()
    val (nDocs, nTok, nCut) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    val bp = if (nTok == 0) 0L else nCut * 10000L / nTok
    (rows, s"docs=$nDocs tokens=$nTok cut_tokens=$nCut cut_bp=$bp " +
      s"window=$windowTokens out=$outDir")
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "dedup" :: "--wide" :: files if files.nonEmpty =>
      // 128-bit chunk identity: the 1e9+-chunk configuration where 64-bit
      // birthday collisions would silently conflate distinct chunks
      val spark = Harness.session("graft-cli")
      val (total, chunkBytes, compressed) =
        Estimator.stats128(ChunkRelation.chunkFiles128(spark, files))
      val ratio = if (total == 0) 0.0 else chunkBytes.toDouble / total
      println(f"Deduplication ratio (128-bit ids): ${ratio * 100}%.1f%% " +
        f"($chunkBytes%d/$total%d, compressed $compressed%d)")
      spark.stop()

    case "dedup" :: files if files.nonEmpty =>
      val spark = Harness.session("graft-cli")
      val r = Estimator.estimate(spark, files)
      println(f"Deduplication ratio: ${r.dedup_ratio * 100}%.1f%% " +
        f"(${r.chunk_bytes}%d/${r.total_len}%d)")
      println(f"Xet deduplication ratio: ${r.xet_dedup_ratio * 100}%.1f%% " +
        f"(${r.xet_bytes}%d/${r.total_len}%d)")
      spark.stop()

    case "stats" :: rest0 =>
      // the reference's grid flag (de stats --with-sqlite); flags parsed
      // over ALL args — a flag in the first slot must not bind as the dir
      // — and unknown flags are a usage error, never silently dropped
      val (flags, positional) = parseFlags(rest0, Set("--with-sqlite"))
      val withSqlite = flags("--with-sqlite")
      val dir = positional.headOption.getOrElse {
        System.err.println("usage: stats DIR [OUTDIR] [--with-sqlite]")
        sys.exit(2)
      }
      val rest = positional.tail
      val spark = Harness.session("graft-cli")
      val outDir = rest.headOption.map(Paths.get(_))
        .getOrElse(Files.createTempDirectory("graft-stats"))
      val stream = Files.list(Paths.get(dir))
      val parquets =
        try {
          val it = stream.iterator()
          new Iterator[java.nio.file.Path] {
            def hasNext = it.hasNext; def next() = it.next()
          }.filter(_.toString.endsWith(".parquet")).map(_.toString).toSeq.sorted
        } finally stream.close()
      require(parquets.nonEmpty, s"no .parquet files under $dir")
      val tables = Map("combined" -> parquets.map { p =>
        val stem = Paths.get(p).getFileName.toString.stripSuffix(".parquet")
        stem -> spark.read.parquet(p)
      }.toMap)
      val results = CompareFormats.compareTables(
        spark, tables,
        TableFormat.defaultGrid(withJson = true, withSqlite = withSqlite), outDir)
      println(CompareFormats.formatReport(results))
      println(CompareFormats.formatMarkdown(results))
      val report = outDir.resolve("report.html")
      Files.writeString(report, CompareFormats.barReportHtml(results))
      println(s"wrote $report")
      spark.stop()

    case "synthetic" :: rest0 =>
      val (flags, positional) = parseFlags(rest0, Set("--with-sqlite"))
      val withSqlite = flags("--with-sqlite")
      val schemaJson = positional.headOption.getOrElse {
        System.err.println("usage: synthetic SCHEMA_JSON [OUTDIR] [--with-sqlite]")
        sys.exit(2)
      }
      val rest = positional.tail
      val spark = Harness.session("graft-cli")
      val outDir = rest.headOption.map(Paths.get(_))
        .getOrElse(Files.createTempDirectory("graft-synth"))
      val gen = new DataGenerator(DType.parseSchema(schemaJson), 42L)
      val tables = gen.generateSyntheticTables(
        spark, 100000L, EditPoints.linspace(2), 1000, perColumnUpdates = true)
      val grouped = tables.collect {
        case (v, df) if v != "original" =>
          v -> Map("original" -> tables("original"), v -> df)
      }
      val results = CompareFormats.compareTables(
        spark, grouped, TableFormat.defaultGrid(withSqlite = withSqlite), outDir)
      println(CompareFormats.formatReport(results))
      val report = outDir.resolve("report.html")
      Files.writeString(report, CompareFormats.barReportHtml(results))
      println(s"wrote $report")
      spark.stop()

    case "rewrite" :: files if files.nonEmpty =>
      // reference `de rewrite` writes {stem}-dedup; CDC parquet writing is
      // not reachable from Spark's writer (README coverage map), so this
      // rewrites with zstd + small pages — the closest dedup-friendly knobs
      val spark = Harness.session("graft-cli")
      files.foreach { f =>
        val src = Paths.get(f)
        val stem = src.getFileName.toString.stripSuffix(".parquet")
        val fmt = TableFormat.ParquetFormat("zstd", dataPageBytes = Some(64 * 1024))
        val out = fmt.write(spark.read.parquet(f), src.getParent, s"$stem-dedup", stem)
        println(s"rewrote $f -> ${out.mkString(",")}")
      }
      spark.stop()

    case "revisions" :: file :: targetDir :: Nil =>
      val out = GitRevisions.checkoutFileRevisions(
        Paths.get(file), Paths.get(targetDir))
      println(s"wrote ${out.size} revisions under $targetDir")
      out.foreach(p => println(s"  $p"))

    case "param-impact" :: file :: knob :: Nil =>
      val spark = Harness.session("graft-cli")
      val df = spark.read.parquet(file)
      val outDir = Files.createTempDirectory("graft-param")
      val (baseline, contenders) = knob match {
        case "--row-group-size" =>
          (TableFormat.ParquetFormat("snappy", rowGroupBytes = Some(1L << 20)),
            (14 to 22 by 2).map(b =>
              TableFormat.ParquetFormat("snappy", rowGroupBytes = Some(1L << b))))
        case "--data-page-size" =>
          (TableFormat.ParquetFormat("snappy", dataPageBytes = Some(1L << 20)),
            (12 to 22 by 2).map(b =>
              TableFormat.ParquetFormat("snappy", dataPageBytes = Some(1L << b))))
        case other => sys.error(s"unknown knob $other (use --row-group-size | --data-page-size)")
      }
      val results = CompareFormats.paramImpact(spark, df, baseline, contenders, outDir)
      println(CompareFormats.formatReport(results))
      spark.stop()

    case "page-chunks" :: files if files.nonEmpty =>
      val spark = Harness.session("graft-cli")
      PageProfiler.pageSizeHistogram(PageProfiler.pageStats(spark, files))
        .orderBy("bucket").show(100, truncate = false)
      spark.stop()

    case "profile" :: file :: Nil =>
      // accept-this-table gate: per-column nulls/distincts/min/max in one
      // aggregation job (HLL distincts — the scale mode; Verify's oracled
      // table_profile query covers the exact mode)
      val spark = Harness.session("graft-cli")
      graft.operators.Profiler
        .profile(spark.read.parquet(file), exactDistinct = false)
        .orderBy("column_name")
        .show(1000, false)
      spark.stop()

    case "query" :: rest =>
      // run any catalog query by name (the full SparkEntry.queries
      // surface); `query list` prints the names. Only the run branch
      // pays Spark startup — list/usage paths need no session.
      rest match {
        case "list" :: Nil =>
          graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
        case name :: more if graft.SparkEntry.queries.contains(name) =>
          // data dir: explicit arg > GRAFT_SF_DIR env — no baked-in path
          val sfDir = more.headOption.orElse(sys.env.get("GRAFT_SF_DIR"))
            .getOrElse {
              System.err.println(
                "usage: query NAME SF_DIR (or set GRAFT_SF_DIR)")
              sys.exit(2)
            }
          val spark = Harness.session("graft-cli")
          graft.SparkEntry.queries(name)(spark, sfDir).show(50, truncate = false)
          spark.stop()
        case name :: _ =>
          System.err.println(s"unknown query '${name}' — try: query list")
          sys.exit(2)
        case Nil =>
          System.err.println("usage: query list | query NAME [SF_DIR]")
          sys.exit(2)
      }

    case "eval" :: rest if rest.size <= 1 =>
      // the operator-quality report: every *_eval query in one pass —
      // LSH recall vs exact truth, lang-ID confusion, IVF probe recall,
      // IVF-PQ quantization recall
      val sfDir = rest.headOption.orElse(sys.env.get("GRAFT_SF_DIR"))
        .getOrElse {
          System.err.println("usage: eval SF_DIR (or set GRAFT_SF_DIR)")
          sys.exit(2)
        }
      val spark = Harness.session("graft-cli")
      val evals = graft.SparkEntry.queries.keys.filter(_.endsWith("_eval")).toSeq.sorted
      evals.foreach { name =>
        println(s"== $name ==")
        graft.operators.SessionCaches.scope {
          graft.SparkEntry.queries(name)(spark, sfDir).show(25, truncate = false)
        }
      }
      spark.stop()

    case "sql" :: stmt :: rest if rest.size <= 1 =>
      // ad-hoc ANSI SQL over the testdata tables: every table in SF_DIR
      // registers as a temp view, then the statement runs through the
      // full Catalyst surface (spark.sql) — the escape hatch for queries
      // the named catalog doesn't cover
      val sfDir = rest.headOption.orElse(sys.env.get("GRAFT_SF_DIR"))
        .getOrElse {
          System.err.println("usage: sql \"SELECT ...\" SF_DIR (or set GRAFT_SF_DIR)")
          sys.exit(2)
        }
      val spark = Harness.session("graft-cli")
      val dir = new java.io.File(sfDir)
      val tables = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      if (tables.isEmpty) {
        System.err.println(s"no .parquet tables under $sfDir")
        spark.stop(); sys.exit(2)
      }
      tables.foreach { f =>
        spark.read.parquet(f.getAbsolutePath)
          .createOrReplaceTempView(f.getName.stripSuffix(".parquet"))
      }
      println(s"views: ${tables.map(_.getName.stripSuffix(".parquet")).sorted.mkString(", ")}")
      spark.sql(stmt).show(100, truncate = false)
      spark.stop()

    case "curate" :: file :: Nil =>
      val spark = Harness.session("graft-cli")
      val docs = spark.read.parquet(file)
      val annotated = graft.operators.CuratePipeline.curate(docs, "doc_id", "text")
      graft.operators.CuratePipeline.report(annotated)
        .orderBy("source", "fate").show(100, truncate = false)
      spark.stop()

    case "compact" :: rest0 =>
      // small-file maintenance: plan (always printed) and, with an output
      // dir, execute — one output file per bin, no shuffle
      val (tFlags, rest) = rest0.partition(_.startsWith("--target-mb="))
      val targetBytes = tFlags match {
        case Nil => 128L * 1024 * 1024
        case f :: Nil => f.stripPrefix("--target-mb=").toLong * 1024 * 1024
        case _ =>
          System.err.println("at most one --target-mb=N"); sys.exit(2)
      }
      rest match {
        case dir :: maybeOut if maybeOut.size <= 1 =>
          val spark = Harness.session("graft-cli")
          val plan = graft.operators.Compaction.plan(spark, dir, targetBytes)
          plan.orderBy("bin", "file_name").show(1000, truncate = false)
          maybeOut.foreach { out =>
            val stats = graft.operators.Compaction
              .compact(spark, dir, targetBytes, out)
            stats.show(1000, truncate = false)
            println(s"wrote ${stats.count()} compacted files under $out")
          }
          spark.stop()
        case _ =>
          System.err.println("usage: compact [--target-mb=N] DIR [OUTDIR]  (default 128 MiB)")
          sys.exit(2)
      }

    case "layout" :: file :: xCol :: yCol :: rest if rest.size <= 1 =>
      // z-order vs linear clustering experiment over two numeric columns;
      // with OUTDIR, execute the z-order rewrite the analysis priced
      val spark = Harness.session("graft-cli")
      import org.apache.spark.sql.functions.col
      val df = spark.read.parquet(file)
      val stats = graft.operators.ZOrder.layoutStats(
        df.select(col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y")))
      stats.orderBy("layout", "bucket").show(200, truncate = false)
      val summary = stats.groupBy("layout")
        .agg(org.apache.spark.sql.functions.sum("probe_hit").as("files_opened"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("files_total"))
      summary.orderBy("layout").show(truncate = false)
      rest.foreach { out =>
        graft.operators.ZOrder.rewrite(df, xCol, yCol, out, 32)
        println(s"wrote z-ordered copy ($xCol x $yCol, 32 files) to $out")
      }
      spark.stop()

    case "bpe" :: file :: rest if rest.size <= 1 =>
      // tokenizer training: learn K merges over a documents parquet and
      // report the compression they buy
      val k = rest.headOption.map(_.toInt).getOrElse(20)
      val spark = Harness.session("graft-cli")
      val docs = spark.read.parquet(file)
      graft.operators.BpeTrain.learn(docs, "text", k)
        .show(k, truncate = false)
      val stats = graft.operators.BpeTrain
        .tokenize(docs, "text", "doc_id", k)
        .agg(org.apache.spark.sql.functions.sum("n_tokens_learned").as("tokens"),
          org.apache.spark.sql.functions.sum("n_codepoints").as("codepoints"))
        .head()
      val (tok, cp) = (stats.getLong(0), stats.getLong(1))
      println(f"corpus: $cp%d codepoints -> $tok%d tokens " +
        f"(${cp.toDouble / tok}%.2f chars/token after $k merges)")
      spark.stop()

    case "viz-html" :: rest if rest.size >= 2 =>
      val spark = Harness.session("graft-cli")
      val files = rest.init
      val out = Paths.get(rest.last)
      // ONE distributed chunking pass feeds both renderings
      val chunks = ChunkRelation.chunkFiles(spark, files).cache()
      // byte-ordered occurrences: strips must render each file's chunks in
      // file layout order, one cell per occurrence
      val matrixRows = Estimator
        .annotatedOccurrences(chunks)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSeq
      Files.writeString(out, Viz.stripDiffHtml(matrixRows))
      println(s"wrote $out (${matrixRows.size} chunk cells)")
      // the reference's aligned multi-doc diff (absent chunks at 0.15)
      val segs = Estimator
        .segments(chunks)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
      chunks.unpersist()
      val alignedOut = Paths.get(out.toString.stripSuffix(".html") + "-aligned.html")
      Files.writeString(alignedOut, Viz.stripDiffHtmlAligned(segs))
      println(s"wrote $alignedOut")
      spark.stop()

    case "merge" :: snapPath :: changesPath :: keyCol :: rest if rest.size <= 1 =>
      // changelog MERGE: CHANGES needs (KEYCOL, seq, op) plus the
      // snapshot's payload columns; stats always print, OUTDIR also
      // writes the merged table
      val spark = Harness.session("graft-cli")
      val snap = spark.read.parquet(snapPath)
      val changes = spark.read.parquet(changesPath)
      require(snap.columns.contains(keyCol),
        s"snapshot has no column '$keyCol' (has ${snap.columns.mkString(", ")})")
      for (c <- Seq(keyCol, "seq", "op"))
        require(changes.columns.contains(c), s"changes needs column '$c'")
      val payload = snap.columns.filterNot(_ == keyCol).toSeq
      val missing = payload.filterNot(changes.columns.contains)
      require(missing.isEmpty,
        s"changes is missing payload columns: ${missing.mkString(", ")}")
      val stats = graft.operators.MergeApply
        .mergeStats(snap, changes, keyCol).head()
      println(s"updated=${stats.getLong(0)} inserted=${stats.getLong(1)} " +
        s"deleted=${stats.getLong(2)} unchanged=${stats.getLong(3)}")
      rest.headOption.foreach { outDir =>
        graft.operators.MergeApply.merge(snap, changes, keyCol, payload)
          .write.mode("overwrite").parquet(outDir)
        println(s"wrote merged table to $outDir")
      }
      spark.stop()

    case "pca" :: file :: rest if rest.size <= 1 =>
      // embedding-table PCA: variance-explained report for the top
      // components, optional exact-projection dump
      val spark = Harness.session("graft-cli")
      val emb = spark.read.parquet(file)
      require(emb.columns.contains("vec_id") && emb.columns.contains("embedding"),
        s"expected (vec_id, embedding) columns, got ${emb.columns.mkString(", ")}")
      val st = graft.operators.Pca.covStats(emb, "vec_id", "embedding")
      val (vecs, vals) = graft.operators.Pca.topEigvecs(st, components = 3)
      // trace of the numerator matrix = Σ diagonal cov_num, the total
      // variance the eigenvalues are fractions of
      val trace = (0 until st.dim).map { i =>
        (BigInt(st.n) * BigInt(st.prods(st.triIndex(i, i))) -
          BigInt(st.sums(i)) * BigInt(st.sums(i))).toDouble
      }.sum
      println(s"n=${st.n} dim=${st.dim}")
      vals.zipWithIndex.foreach { case (v, c) =>
        println(f"component $c: eigenvalue $v%.4g  " +
          f"variance explained ${100.0 * v / trace}%.2f%%")
      }
      rest.headOption.foreach { outDir =>
        graft.operators.Pca
          .project(emb, "vec_id", "embedding",
            vecs.map(_.map(graft.operators.Pca.qe)))
          .write.mode("overwrite").parquet(outDir)
        println(s"wrote projections to $outDir")
      }
      spark.stop()

    case "contain-dedup" :: file :: rest if rest.size <= 1 =>
      // asymmetric containment near-dup over a documents parquet:
      // excerpt/quote-wrapper detection Jaccard can't see
      val thresholdBp = rest.headOption.map(_.toLong).getOrElse(9000L)
      val spark = Harness.session("graft-cli")
      val docs = spark.read.parquet(file)
      require(docs.columns.contains("doc_id") && docs.columns.contains("text"),
        s"expected (doc_id, text) columns, got ${docs.columns.mkString(", ")}")
      val pairs = graft.operators.Dedupe
        .containmentPairs(docs, "doc_id", "text", k = 3,
          thresholdBp = thresholdBp, usePrefixFilter = true)
        .cache()
      pairs.orderBy(org.apache.spark.sql.functions.col("cont_a_bp").desc,
        org.apache.spark.sql.functions.col("cont_b_bp").desc)
        .show(20, truncate = false)
      val byRel = pairs.groupBy("relation").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"pairs at >= ${thresholdBp}bp containment: ${pairs.count()} ($byRel)")
      pairs.unpersist()
      spark.stop()

    case "dup-spans" :: file :: rest if rest.size <= 1 =>
      // exact-substring duplicate spans over a documents parquet: the
      // boilerplate/quoted passages a curation pipeline cuts (Lee et al.
      // ACL'22 ExactSubstr mode, fixed window)
      val windowTokens = rest.headOption.map(_.toInt).getOrElse(20)
      val spark = Harness.session("graft-cli")
      val (spans, rollup) = dupSpansReport(spark, file, windowTokens)
      spans.orderBy(org.apache.spark.sql.functions.col("span_tokens").desc)
        .show(20, truncate = false)
      println(rollup)
      spans.unpersist()
      spark.stop()

    case "cut-spans" :: file :: outDir :: rest if rest.size <= 1 =>
      // the dedup ACTION as a file tool: write the keep-earliest-cleaned
      // corpus (doc_id, n_tokens, cut_tokens, text_cut) as parquet and
      // print the removal rollup — hash128 identity, the production
      // configuration (a 64-bit window collision would delete text)
      val windowTokens = rest.headOption.map(_.toInt).getOrElse(20)
      val spark = Harness.session("graft-cli")
      val (rows, rollup) = cutSpansReport(spark, file, outDir, windowTokens)
      println(rollup)
      rows.unpersist()
      spark.stop()

    case "dup-spans-approx" :: file :: rest if rest.size <= 1 =>
      // the cheap first-pass: KMV-sketched substring-duplication estimate
      // (one narrow kernel pass, no per-window shuffle) — run this before
      // committing to a full cut-spans over a big corpus
      val windowTokens = rest.headOption.map(_.toInt).getOrElse(20)
      val spark = Harness.session("graft-cli")
      val (line, _) = dupSpansApproxReport(spark, file, windowTokens)
      println(line)
      spark.stop()

    case "span-index" :: file :: outDir :: rest if rest.size <= 1 =>
      // persist the corpus's distinct window-identity index (hash128) —
      // the base side of incremental span dedup; build once, refresh
      // batches cut against it without re-hashing this corpus
      val windowTokens = rest.headOption.map(_.toInt).getOrElse(20)
      val spark = Harness.session("graft-cli")
      val (_, rollup) = spanIndexReport(spark, file, outDir, windowTokens)
      println(rollup)
      spark.stop()

    case "cut-spans-incremental" :: idxDir :: file :: outDir :: rest
        if rest.size <= 1 =>
      // nightly refresh: cut BATCH documents against a span-index built
      // earlier (plus the batch itself), write the cleaned batch parquet
      val windowTokens = rest.headOption.map(_.toInt).getOrElse(20)
      val spark = Harness.session("graft-cli")
      val (rows, rollup) =
        cutSpansIncrementalReport(spark, idxDir, file, outDir, windowTokens)
      println(rollup)
      rows.unpersist()
      spark.stop()

    case "dup-lines" :: file :: rest if rest.size <= 1 =>
      // line-level exact duplicate classes over a documents parquet: the
      // boilerplate lines (headers/footers/banners) a RefinedWeb-style
      // line-wise pass removes
      val minChars = rest.headOption.map(_.toInt).getOrElse(10)
      val spark = Harness.session("graft-cli")
      val (classes, rollup) = dupLinesReport(spark, file, minChars)
      classes.orderBy(org.apache.spark.sql.functions.col("n_occ").desc,
        org.apache.spark.sql.functions.col("line"))
        .show(20, truncate = false)
      println(rollup)
      spark.stop()

    case "dup-lines-approx" :: file :: rest if rest.size <= 1 =>
      // the cheap first-pass: KMV-sketched line-duplication estimate (one
      // narrow pass, no per-line shuffle) — run this before committing to
      // a full cut-lines over a big corpus
      val minChars = rest.headOption.map(_.toInt).getOrElse(10)
      val spark = Harness.session("graft-cli")
      val (line, _) = dupLinesApproxReport(spark, file, minChars)
      println(line)
      spark.stop()

    case "cut-lines" :: file :: outDir :: rest if rest.size <= 1 =>
      // the line-dedup ACTION as a file tool: write the keep-earliest
      // line-cleaned corpus (doc_id, n_lines, n_dropped, chars_dropped,
      // text_clean) as parquet and print the removal rollup
      val minChars = rest.headOption.map(_.toInt).getOrElse(10)
      val spark = Harness.session("graft-cli")
      val (_, rollup) = cutLinesReport(spark, file, outDir, minChars)
      println(rollup)
      spark.stop()

    case "line-index" :: file :: outDir :: rest if rest.size <= 1 =>
      // persist the corpus's distinct line-identity index — the base
      // side of incremental line dedup; build once, refresh batches cut
      // against it without re-reading this corpus
      val minChars = rest.headOption.map(_.toInt).getOrElse(10)
      val spark = Harness.session("graft-cli")
      val (_, rollup) = lineIndexReport(spark, file, outDir, minChars)
      println(rollup)
      spark.stop()

    case "cut-lines-incremental" :: idxDir :: file :: outDir :: rest
        if rest.size <= 1 =>
      // nightly refresh: cut BATCH documents against a line-index built
      // earlier (plus the batch itself), write the cleaned batch parquet
      val minChars = rest.headOption.map(_.toInt).getOrElse(10)
      val spark = Harness.session("graft-cli")
      val (_, rollup) =
        cutLinesIncrementalReport(spark, idxDir, file, outDir, minChars)
      println(rollup)
      spark.stop()

    case "phash-dedup" :: files if files.nonEmpty =>
      // perceptual (visual) dedup over real image files: decode → dHash →
      // exact groups + hamming<=3 near matches; file_idx keys the report
      val spark = Harness.session("graft-cli")
      import org.apache.spark.sql.functions.{col, input_file_name}
      val blobs = spark.read.format("binaryFile")
        .load(files: _*)
        .select(input_file_name().as("path"), col("content"))
      val paths = blobs.select("path").collect().map(_.getString(0)).sorted
      val idx = paths.zipWithIndex.toMap
      val withIds = {
        import spark.implicits._
        val b = spark.sparkContext.broadcast(idx)
        blobs.as[(String, Array[Byte])]
          .map { case (p, c) => (b.value(p).toLong, c) }
          .toDF("blob_id", "content")
      }
      // decode+hash ONCE; both the exact grouping and the near-pair
      // search consume the same cached (id, sig) relation
      val sigs = graft.operators.Multimodal
        .phashRelation(withIds, "blob_id", "content").cache()
      val dedup = {
        import org.apache.spark.sql.functions.min
        val canon = sigs.groupBy(col("sig"))
          .agg(min(col("id")).as("visual_canonical"))
        sigs.join(canon, Seq("sig"))
          .select(col("id"), col("sig"), col("visual_canonical"),
            (col("id") =!= col("visual_canonical")).as("is_visual_dup"))
          .collect().sortBy(_.getLong(0))
      }
      dedup.foreach { r =>
        val mark = if (r.getBoolean(3))
          s"DUP of ${paths(r.getLong(2).toInt)}" else "canonical"
        println(f"${paths(r.getLong(0).toInt)}%s  phash=${r.getLong(1)}%016x  $mark")
      }
      val near = graft.operators.Dedupe.hammingPairs(sigs)
        .filter(col("hamming") > 0).collect()
      near.foreach(r => println(
        f"NEAR (hamming ${r.getLong(2)}): ${paths(r.getLong(0).toInt)}%s ~ ${paths(r.getLong(1).toInt)}%s"))
      spark.stop()

    case "video-fp" :: files if files.nonEmpty =>
      // keyframe near-dup over real Y4M files: from-scratch decode → 4
      // keyframe dHashes per video → hamming<=3 pairs, reported
      // per-keyframe-slot; file_idx keys the report like phash-dedup
      val spark = Harness.session("graft-cli")
      import org.apache.spark.sql.functions.{col, input_file_name}
      val blobs = spark.read.format("binaryFile")
        .load(files: _*)
        .select(input_file_name().as("path"), col("content"))
      val paths = blobs.select("path").collect().map(_.getString(0)).sorted
      val idx = paths.zipWithIndex.toMap
      val withIds = {
        import spark.implicits._
        val b = spark.sparkContext.broadcast(idx)
        blobs.as[(String, Array[Byte])]
          .map { case (p, c) => (b.value(p).toLong, c) }
          .toDF("blob_id", "content")
      }
      val sigs = graft.operators.Multimodal
        .videoFpRelation(withIds, "blob_id", "content").cache()
      sigs.collect().sortBy(_.getLong(0)).foreach { r =>
        val vid = r.getLong(0)
        println(f"${paths((vid / 4).toInt)}%s slot ${vid % 4}  sig=${r.getLong(1)}%016x")
      }
      graft.operators.Dedupe.hammingPairs(sigs).collect()
        .sortBy(r => (r.getLong(0), r.getLong(1)))
        .foreach { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          println(s"MATCH (hamming ${r.getLong(2)}): " +
            s"${paths((a / 4).toInt)} slot ${a % 4} ~ " +
            s"${paths((b / 4).toInt)} slot ${b % 4}")
        }
      sigs.unpersist()
      spark.stop()

    case "viz" :: rest if rest.size >= 2 =>
      val spark = Harness.session("graft-cli")
      val files = rest.init
      val out = Paths.get(rest.last)
      // reference writes one PNG per input file plus the merged strip
      // (src/lib.rs:21-29); per-file strips come from the same collected
      // segment sequence, sliced by file_idx — one distributed pass total
      val segs = Estimator
        .segments(ChunkRelation.chunkFiles(spark, files))
        .select("file_idx", "first_seen_in", "size")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
      Viz.provenancePng(segs.map(s => (s._2, s._3)), out)
      println(s"wrote $out (${segs.size} chunks)")
      val stem = out.toString.stripSuffix(".png")
      files.indices.foreach { i =>
        val fileSegs = segs.filter(_._1 == i.toLong).map(s => (s._2, s._3))
        val fileOut = Paths.get(s"$stem-$i.png")
        Viz.provenancePng(fileSegs, fileOut)
        println(s"wrote $fileOut (${fileSegs.size} chunks)")
      }
      spark.stop()

    case other =>
      System.err.println(
        s"""unknown command: ${other.mkString(" ")}
           |usage:
           |  dedup FILE...
           |  stats DIR [OUTDIR] [--with-sqlite]
           |  synthetic SCHEMA_JSON [OUTDIR] [--with-sqlite]
           |  rewrite FILE...
           |  revisions FILE TARGET_DIR
           |  param-impact FILE --row-group-size|--data-page-size
           |  page-chunks FILE...
           |  profile TABLE.parquet
           |  query list | query NAME [SF_DIR]
           |  sql "SELECT ..." [SF_DIR]
           |  eval [SF_DIR]
           |  curate DOCUMENTS.parquet
           |  compact [--target-mb=N] DIR [OUTDIR]
           |  layout TABLE.parquet XCOL YCOL [OUTDIR]
           |  bpe DOCUMENTS.parquet [K]
           |  merge SNAPSHOT.parquet CHANGES.parquet KEYCOL [OUTDIR]
           |  pca EMBEDDINGS.parquet [OUTDIR]
           |  contain-dedup DOCUMENTS.parquet [THRESHOLD_BP]
           |  dup-spans DOCUMENTS.parquet [WINDOW_TOKENS]
           |  dup-spans-approx DOCUMENTS.parquet [WINDOW_TOKENS]
           |  cut-spans DOCUMENTS.parquet OUT_DIR [WINDOW_TOKENS]
           |  span-index DOCUMENTS.parquet IDX_DIR [WINDOW_TOKENS]
           |  cut-spans-incremental IDX_DIR BATCH.parquet OUT_DIR [WINDOW_TOKENS]
           |      (IDX_DIR from span-index; refuses on window/hash-width
           |       mismatch or batch ids <= the index's max_doc_id — the
           |       keep-earliest contract is append-only ids)
           |  dup-lines DOCUMENTS.parquet [MIN_LINE_CHARS]
           |  dup-lines-approx DOCUMENTS.parquet [MIN_LINE_CHARS]
           |  cut-lines DOCUMENTS.parquet OUT_DIR [MIN_LINE_CHARS]
           |  line-index DOCUMENTS.parquet IDX_DIR [MIN_LINE_CHARS]
           |  cut-lines-incremental IDX_DIR BATCH.parquet OUT_DIR [MIN_LINE_CHARS]
           |      (IDX_DIR from line-index; refuses on a min-length
           |       mismatch or batch ids <= the index's max_doc_id)
           |  phash-dedup IMAGE_FILE...
           |  video-fp Y4M_FILE...
           |  viz FILE... OUT.png
           |  viz-html FILE... OUT.html""".stripMargin)
      sys.exit(2)
  }
}
