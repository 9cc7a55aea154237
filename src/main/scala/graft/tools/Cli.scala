package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Harness
import graft.functions.KmvSketch
import graft.operators.{CompareFormats, ChunkRelation, Dedupe, Estimator, LineDedupe}
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
  *
  * The text-dedup commands are thin callers of the operators: each
  * report reads its documents, runs one operator and prints one rollup
  * line. Usage errors (an unknown flag or knob, a non-positive or
  * non-integer number, an input an operator refuses) exit 2.
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

  /** The optional positive-integer positional `name` (the head of
    * `rest`), `default` when absent.
    */
  private[tools] def intArg(name: String, rest: List[String], default: Int)
      : Either[String, Int] =
    Harness.positiveInt(name, rest.headOption, default)

  /** `compact`'s `--target-mb=N` flags as bytes, 128 MiB when absent. */
  private[tools] def targetBytes(flags: List[String]): Either[String, Long] =
    flags match {
      case Nil => Right(128L * 1024 * 1024)
      case f :: Nil => Harness.positiveInt("--target-mb",
        Some(f.stripPrefix("--target-mb=")), 128).map(_ * 1024L * 1024)
      case _ => Left("at most one --target-mb=N")
    }

  /** `param-impact`'s (baseline, contenders) for a knob. */
  private[tools] def paramGrid(knob: String)
      : Either[String, (TableFormat.ParquetFormat, Seq[TableFormat.ParquetFormat])] =
    knob match {
      case "--row-group-size" =>
        Right((TableFormat.ParquetFormat("snappy", rowGroupBytes = Some(1L << 20)),
          (14 to 22 by 2).map(b =>
            TableFormat.ParquetFormat("snappy", rowGroupBytes = Some(1L << b)))))
      case "--data-page-size" =>
        Right((TableFormat.ParquetFormat("snappy", dataPageBytes = Some(1L << 20)),
          (12 to 22 by 2).map(b =>
            TableFormat.ParquetFormat("snappy", dataPageBytes = Some(1L << b)))))
      case other =>
        Left(s"unknown knob $other (use --row-group-size | --data-page-size)")
    }

  /** SF_DIR: the argument, else `SPARK_GRAFT_SF_DIR` (the name Bench and
    * ScaleRun read); exits 2 with `usage` when neither is given.
    */
  private def sfDir(arg: Option[String], usage: String): String =
    arg.orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse {
      System.err.println(s"usage: $usage (or set SPARK_GRAFT_SF_DIR)")
      sys.exit(2)
    }

  /** A parquet with the columns a command needs; refuses any other. */
  private def readWith(spark: SparkSession, file: String, cols: String*): DataFrame = {
    val df = spark.read.parquet(file)
    val want =
      if (cols.size == 1) s"a ${cols.head} column"
      else cols.mkString("(", ", ", ") columns")
    require(cols.forall(df.columns.contains),
      s"expected $want, got ${df.columns.mkString(", ")}")
    df
  }

  private def documents(spark: SparkSession, file: String): DataFrame =
    readWith(spark, file, "doc_id", "text")

  /** Row count, then each column's sum (0 when empty), in one aggregate. */
  private def countAndSums(df: DataFrame, sums: Column*): Seq[Long] = {
    val row = df.agg(count(lit(1)), sums.map(c => coalesce(sum(c), lit(0L))): _*)
      .head()
    (0 to sums.size).map(row.getLong)
  }

  /** Writes a span cut to `outDir`; returns it and the rollup
    * `docs=N tokens=N cut_tokens=N cut_bp=N window=W out=DIR`.
    */
  private def spanCutRollup(
      rows: DataFrame, outDir: String, windowTokens: Int): (DataFrame, String) = {
    rows.write.mode("overwrite").parquet(outDir)
    val Seq(nDocs, nTok, nCut) =
      countAndSums(rows, col("n_tokens"), col("cut_tokens"))
    val bp = if (nTok == 0) 0L else nCut * 10000L / nTok
    (rows, s"docs=$nDocs tokens=$nTok cut_tokens=$nCut cut_bp=$bp " +
      s"window=$windowTokens out=$outDir")
  }

  /** Writes a line cut to `outDir`; returns the written relation and the
    * rollup `docs=N lines=N dropped=N dropped_chars=N cut_bp=N min_chars=M out=DIR`.
    */
  private def lineCutRollup(
      spark: SparkSession, rows: DataFrame, outDir: String,
      minLineChars: Int): (DataFrame, String) = {
    rows.write.mode("overwrite").parquet(outDir)
    val out = spark.read.parquet(outDir)
    val Seq(nDocs, nLines, nDrop, nChars) = countAndSums(out,
      col("n_lines"), col("n_dropped"), col("chars_dropped"))
    val bp = if (nLines == 0) 0L else nDrop * 10000L / nLines
    (out, s"docs=$nDocs lines=$nLines dropped=$nDrop " +
      s"dropped_chars=$nChars cut_bp=$bp min_chars=$minLineChars out=$outDir")
  }

  /** Rollup of a one-row KMV triage ([[graft.functions.KmvTriage]]):
    * `<unit>=N distinct~N dup~N dup_bp~N <param> (KMV k=K; exact when
    * distinct < k)`, and the dup fraction.
    */
  private def triageRollup(
      triage: DataFrame, unit: String, param: String): (String, Double) = {
    val r = triage.head()
    val (total, kmv, dup, frac) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val bp = math.round(frac * 10000).toInt
    (s"$unit=$total distinct~$kmv dup~$dup dup_bp~$bp $param " +
      s"(KMV k=${KmvSketch.TriageK}; exact when distinct < k)", frac)
  }

  /** `dup-spans` body, factored for ToolsSpec: the span relation (cached;
    * caller unpersists) plus the rollup line
    * `spans=N dup_tokens=N docs_affected=N window=W`.
    */
  private[tools] def dupSpansReport(
      spark: SparkSession,
      file: String,
      windowTokens: Int): (DataFrame, String) = {
    val spans = Dedupe.duplicateSpans(documents(spark, file), "doc_id", "text",
      windowTokens = windowTokens)
    val agg = spans.agg(count(lit(1)), coalesce(sum("span_tokens"), lit(0L)),
      countDistinct("doc_id")).head()
    (spans, s"spans=${agg.getLong(0)} dup_tokens=${agg.getLong(1)} " +
      s"docs_affected=${agg.getLong(2)} window=$windowTokens")
  }

  /** `cut-spans` body, factored for ToolsSpec: runs the keep-earliest
    * cut (hash128), writes the cleaned corpus parquet to `outDir`, and
    * returns the cut relation and its rollup.
    */
  private[tools] def cutSpansReport(
      spark: SparkSession,
      file: String,
      outDir: String,
      windowTokens: Int): (DataFrame, String) =
    spanCutRollup(Dedupe.cutDuplicateSpans(documents(spark, file), "doc_id",
      "text", windowTokens = windowTokens, hash128 = true), outDir, windowTokens)

  /** `dup-spans-approx` body, factored for ToolsSpec: the KMV
    * first-pass duplication estimate ([[Dedupe.approxDuplicateSpans]],
    * the dedup_spans_approx catalog query's operator; exact below the
    * sketch's k). Returns (rollup line, dup_fraction).
    */
  private[tools] def dupSpansApproxReport(
      spark: SparkSession,
      file: String,
      windowTokens: Int): (String, Double) =
    triageRollup(Dedupe.approxDuplicateSpans(readWith(spark, file, "text"),
      "text", windowTokens), "windows", s"window=$windowTokens")

  /** `dup-lines` body, factored for ToolsSpec: duplicated-line classes
    * ([[LineDedupe.duplicateLines]]) over a documents parquet. Returns
    * (classes relation, rollup
    * `line_classes=N extra_occurrences=N dup_chars=N min_chars=M`).
    */
  private[tools] def dupLinesReport(
      spark: SparkSession,
      file: String,
      minLineChars: Int): (DataFrame, String) = {
    val classes = LineDedupe.duplicateLines(documents(spark, file), "doc_id",
      "text", minLineChars = minLineChars)
    val Seq(n, extra, chars) = countAndSums(classes,
      col("n_occ") - 1, (col("n_occ") - 1) * col("line_chars"))
    (classes, s"line_classes=$n extra_occurrences=$extra dup_chars=$chars " +
      s"min_chars=$minLineChars")
  }

  /** `dup-lines-approx` body, factored for ToolsSpec: the KMV first-pass
    * line-duplication estimate ([[LineDedupe.approxDuplicateLines]], the
    * dedup_lines_approx catalog query's operator; exact below the
    * sketch's k) — the triage to run before committing to a full
    * `cut-lines` over a big corpus. Returns (rollup line, dup_fraction).
    */
  private[tools] def dupLinesApproxReport(
      spark: SparkSession,
      file: String,
      minLineChars: Int): (String, Double) =
    triageRollup(LineDedupe.approxDuplicateLines(readWith(spark, file, "text"),
      "text", minLineChars = minLineChars), "lines", s"min_chars=$minLineChars")

  /** `cut-lines` body, factored for ToolsSpec: the keep-earliest line
    * cut ([[LineDedupe.cutDuplicateLines]]), written as parquet to
    * `outDir`. Returns the written relation and its rollup.
    */
  private[tools] def cutLinesReport(
      spark: SparkSession,
      file: String,
      outDir: String,
      minLineChars: Int): (DataFrame, String) =
    lineCutRollup(spark, LineDedupe.cutDuplicateLines(documents(spark, file),
      "doc_id", "text", minLineChars = minLineChars), outDir, minLineChars)

  /** `line-index` body, factored for ToolsSpec: the distinct
    * line-identity index with its sidecar
    * ([[LineDedupe.persistLineIndex]]). Returns (line count, rollup
    * `lines=N min_chars=M max_doc_id=N out=DIR`).
    */
  private[tools] def lineIndexReport(
      spark: SparkSession,
      file: String,
      outDir: String,
      minLineChars: Int): (Long, String) = {
    val m = LineDedupe.persistLineIndex(documents(spark, file), "doc_id",
      "text", outDir, minLineChars, source = file)
    (m.lines, s"lines=${m.lines} min_chars=$minLineChars " +
      s"max_doc_id=${m.maxDocId} out=$outDir")
  }

  /** `cut-lines-incremental` body, factored for ToolsSpec: cuts the
    * batch against a persisted line-index ([[LineDedupe.refreshLines]]),
    * writes the cleaned batch, returns it and a rollup like
    * [[cutLinesReport]]'s.
    */
  private[tools] def cutLinesIncrementalReport(
      spark: SparkSession,
      idxDir: String,
      file: String,
      outDir: String,
      minLineChars: Int): (DataFrame, String) =
    lineCutRollup(spark, LineDedupe.refreshLines(idxDir,
      documents(spark, file), "doc_id", "text", minLineChars),
      outDir, minLineChars)

  /** `span-index` body, factored for ToolsSpec: the hash128 distinct
    * window index with its sidecar ([[Dedupe.persistSpanIndex]]).
    * Returns (window count, rollup `windows=N window=W max_doc_id=N out=DIR`).
    */
  private[tools] def spanIndexReport(
      spark: SparkSession,
      file: String,
      outDir: String,
      windowTokens: Int): (Long, String) = {
    val m = Dedupe.persistSpanIndex(documents(spark, file), "doc_id", "text",
      outDir, windowTokens, source = file)
    (m.windows, s"windows=${m.windows} window=$windowTokens " +
      s"max_doc_id=${m.maxDocId} out=$outDir")
  }

  /** `cut-spans-incremental` body, factored for ToolsSpec: cuts the
    * batch against a persisted span-index ([[Dedupe.refreshSpans]]),
    * writes the cleaned batch, returns it and a rollup like
    * [[cutSpansReport]]'s.
    */
  private[tools] def cutSpansIncrementalReport(
      spark: SparkSession,
      idxDir: String,
      file: String,
      outDir: String,
      windowTokens: Int): (DataFrame, String) =
    spanCutRollup(Dedupe.refreshSpans(idxDir, documents(spark, file),
      "doc_id", "text", windowTokens), outDir, windowTokens)

  /** Binary `files` as `(blob_id, content)`, each id its path's index in
    * the sorted path list (returned beside it to key the report).
    */
  private def blobsWithIds(
      spark: SparkSession, files: List[String]): (Array[String], DataFrame) = {
    import spark.implicits._
    val blobs = spark.read.format("binaryFile").load(files: _*)
      .select(input_file_name().as("path"), col("content"))
    val paths = blobs.select("path").collect().map(_.getString(0)).sorted
    val ids = spark.sparkContext.broadcast(paths.zipWithIndex.toMap)
    (paths, blobs.as[(String, Array[Byte])]
      .map { case (p, c) => (ids.value(p).toLong, c) }
      .toDF("blob_id", "content"))
  }

  /** Each command runs in the CLI's own session, stopped afterwards (also
    * on failure); the exit code is [[run]]'s.
    */
  def main(args: Array[String]): Unit = {
    val code = run(args.toList) { body =>
      val spark = Harness.session("graft-cli")
      try body(spark) finally spark.stop()
    }
    if (code != 0) sys.exit(code)
  }

  /** Runs one command, its sessions lent by `withSpark`, and returns the
    * exit code. A refused input is a usage error like a bad flag: an
    * `IllegalArgumentException` (a reader's column check, an index's
    * refresh contract, an operator's range check) prints its message and
    * returns 2, not a stack trace.
    */
  private[tools] def run(args: List[String])(
      withSpark: (SparkSession => Unit) => Unit): Int =
    try { dispatch(args, withSpark); 0 }
    catch { case e: IllegalArgumentException => System.err.println(e.getMessage); 2 }

  private def dispatch(
      args: List[String], withSpark: (SparkSession => Unit) => Unit): Unit = args match {
    case "dedup" :: "--wide" :: files if files.nonEmpty => withSpark { spark =>
      // 128-bit chunk identity: the 1e9+-chunk configuration where 64-bit
      // birthday collisions would silently conflate distinct chunks
      val (total, chunkBytes, compressed) =
        Estimator.stats128(ChunkRelation.chunkFiles128(spark, files))
      val ratio = if (total == 0) 0.0 else chunkBytes.toDouble / total
      println(f"Deduplication ratio (128-bit ids): ${ratio * 100}%.1f%% " +
        f"($chunkBytes%d/$total%d, compressed $compressed%d)")
    }

    case "dedup" :: files if files.nonEmpty => withSpark { spark =>
      val r = Estimator.estimate(spark, files)
      println(f"Deduplication ratio: ${r.dedup_ratio * 100}%.1f%% " +
        f"(${r.chunk_bytes}%d/${r.total_len}%d)")
      println(f"Xet deduplication ratio: ${r.xet_dedup_ratio * 100}%.1f%% " +
        f"(${r.xet_bytes}%d/${r.total_len}%d)")
    }

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
      withSpark { spark =>
        val outDir = positional.tail.headOption.map(Paths.get(_))
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
      }

    case "synthetic" :: rest0 =>
      val (flags, positional) = parseFlags(rest0, Set("--with-sqlite"))
      val withSqlite = flags("--with-sqlite")
      val schemaJson = positional.headOption.getOrElse {
        System.err.println("usage: synthetic SCHEMA_JSON [OUTDIR] [--with-sqlite]")
        sys.exit(2)
      }
      withSpark { spark =>
        val outDir = positional.tail.headOption.map(Paths.get(_))
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
      }

    case "rewrite" :: files if files.nonEmpty => withSpark { spark =>
      // reference `de rewrite` writes {stem}-dedup; CDC parquet writing is
      // not reachable from Spark's writer (README coverage map), so this
      // rewrites with zstd + small pages — the closest dedup-friendly knobs
      files.foreach { f =>
        val src = Paths.get(f)
        val stem = src.getFileName.toString.stripSuffix(".parquet")
        val fmt = TableFormat.ParquetFormat("zstd", dataPageBytes = Some(64 * 1024))
        val out = fmt.write(spark.read.parquet(f), src.getParent, s"$stem-dedup", stem)
        println(s"rewrote $f -> ${out.mkString(",")}")
      }
    }

    case "revisions" :: file :: targetDir :: Nil =>
      val out = GitRevisions.checkoutFileRevisions(
        Paths.get(file), Paths.get(targetDir))
      println(s"wrote ${out.size} revisions under $targetDir")
      out.foreach(p => println(s"  $p"))

    case "param-impact" :: file :: knob :: Nil =>
      val (baseline, contenders) = Harness.orExit(paramGrid(knob))
      withSpark { spark =>
        val results = CompareFormats.paramImpact(spark, spark.read.parquet(file),
          baseline, contenders, Files.createTempDirectory("graft-param"))
        println(CompareFormats.formatReport(results))
      }

    case "page-chunks" :: files if files.nonEmpty => withSpark { spark =>
      PageProfiler.pageSizeHistogram(PageProfiler.pageStats(spark, files))
        .orderBy("bucket").show(100, truncate = false)
    }

    case "profile" :: file :: Nil => withSpark { spark =>
      // accept-this-table gate: per-column nulls/distincts/min/max in one
      // aggregation job (HLL distincts — the scale mode; Verify's oracled
      // table_profile query covers the exact mode)
      graft.operators.Profiler
        .profile(spark.read.parquet(file), exactDistinct = false)
        .orderBy("column_name")
        .show(1000, false)
    }

    case "query" :: rest =>
      // run any catalog query by name (the full SparkEntry.queries
      // surface); `query list` prints the names. Only the run branch
      // pays Spark startup — list/usage paths need no session.
      rest match {
        case "list" :: Nil =>
          graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
        case name :: more if graft.SparkEntry.queries.contains(name) =>
          val dir = sfDir(more.headOption, "query NAME SF_DIR")
          withSpark { spark =>
            graft.SparkEntry.queries(name)(spark, dir).show(50, truncate = false)
          }
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
      val dir = sfDir(rest.headOption, "eval SF_DIR")
      withSpark { spark =>
        val evals = graft.SparkEntry.queries.keys.filter(_.endsWith("_eval")).toSeq.sorted
        evals.foreach { name =>
          println(s"== $name ==")
          graft.operators.SessionCaches.scope {
            graft.SparkEntry.queries(name)(spark, dir).show(25, truncate = false)
          }
        }
      }

    case "sql" :: stmt :: rest if rest.size <= 1 =>
      // ad-hoc ANSI SQL over the testdata tables: every table in SF_DIR
      // registers as a temp view, then the statement runs through the
      // full Catalyst surface (spark.sql) — the escape hatch for queries
      // the named catalog doesn't cover
      val dir = sfDir(rest.headOption, "sql \"SELECT ...\" SF_DIR")
      val tables = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      if (tables.isEmpty) {
        System.err.println(s"no .parquet tables under $dir")
        sys.exit(2)
      }
      withSpark { spark =>
        tables.foreach { f =>
          spark.read.parquet(f.getAbsolutePath)
            .createOrReplaceTempView(f.getName.stripSuffix(".parquet"))
        }
        println(s"views: ${tables.map(_.getName.stripSuffix(".parquet")).sorted.mkString(", ")}")
        spark.sql(stmt).show(100, truncate = false)
      }

    case "curate" :: file :: Nil => withSpark { spark =>
      val annotated = graft.operators.CuratePipeline
        .curate(spark.read.parquet(file), "doc_id", "text")
      graft.operators.CuratePipeline.report(annotated)
        .orderBy("source", "fate").show(100, truncate = false)
    }

    case "compact" :: rest0 =>
      // small-file maintenance: plan (always printed) and, with an output
      // dir, execute — one output file per bin, no shuffle
      val (tFlags, rest) = rest0.partition(_.startsWith("--target-mb="))
      val target = Harness.orExit(targetBytes(tFlags))
      rest match {
        case dir :: maybeOut if maybeOut.size <= 1 => withSpark { spark =>
          val plan = graft.operators.Compaction.plan(spark, dir, target)
          plan.orderBy("bin", "file_name").show(1000, truncate = false)
          maybeOut.foreach { out =>
            val stats = graft.operators.Compaction.compact(spark, dir, target, out)
            stats.show(1000, truncate = false)
            println(s"wrote ${stats.count()} compacted files under $out")
          }
        }
        case _ =>
          System.err.println("usage: compact [--target-mb=N] DIR [OUTDIR]  (default 128 MiB)")
          sys.exit(2)
      }

    case "layout" :: file :: xCol :: yCol :: rest if rest.size <= 1 => withSpark { spark =>
      // z-order vs linear clustering experiment over two numeric columns;
      // with OUTDIR, execute the z-order rewrite the analysis priced
      val df = spark.read.parquet(file)
      val stats = graft.operators.ZOrder.layoutStats(
        df.select(col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y")))
      stats.orderBy("layout", "bucket").show(200, truncate = false)
      stats.groupBy("layout")
        .agg(sum("probe_hit").as("files_opened"), count(lit(1)).as("files_total"))
        .orderBy("layout").show(truncate = false)
      rest.foreach { out =>
        graft.operators.ZOrder.rewrite(df, xCol, yCol, out, 32)
        println(s"wrote z-ordered copy ($xCol x $yCol, 32 files) to $out")
      }
    }

    case "bpe" :: file :: rest if rest.size <= 1 =>
      // tokenizer training: learn K merges over a documents parquet and
      // report the compression they buy
      val k = Harness.orExit(intArg("K", rest, 20))
      withSpark { spark =>
        val docs = spark.read.parquet(file)
        graft.operators.BpeTrain.learn(docs, "text", k)
          .show(k, truncate = false)
        val stats = graft.operators.BpeTrain
          .tokenize(docs, "text", "doc_id", k)
          .agg(sum("n_tokens_learned").as("tokens"),
            sum("n_codepoints").as("codepoints"))
          .head()
        val (tok, cp) = (stats.getLong(0), stats.getLong(1))
        println(f"corpus: $cp%d codepoints -> $tok%d tokens " +
          f"(${cp.toDouble / tok}%.2f chars/token after $k merges)")
      }

    case "viz-html" :: rest if rest.size >= 2 => withSpark { spark =>
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
    }

    case "merge" :: snapPath :: changesPath :: keyCol :: rest if rest.size <= 1 =>
      withSpark { spark =>
        // changelog MERGE: CHANGES needs (KEYCOL, seq, op) plus the
        // snapshot's payload columns; stats always print, OUTDIR also
        // writes the merged table
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
      }

    case "pca" :: file :: rest if rest.size <= 1 => withSpark { spark =>
      // embedding-table PCA: variance-explained report for the top
      // components, optional exact-projection dump
      val emb = readWith(spark, file, "vec_id", "embedding")
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
    }

    case "contain-dedup" :: file :: rest if rest.size <= 1 =>
      // asymmetric containment near-dup over a documents parquet:
      // excerpt/quote-wrapper detection Jaccard can't see
      val thresholdBp = Harness.orExit(intArg("THRESHOLD_BP", rest, 9000)).toLong
      withSpark { spark =>
        val pairs = Dedupe
          .containmentPairs(documents(spark, file), "doc_id", "text", k = 3,
            thresholdBp = thresholdBp)
          .cache()
        pairs.orderBy(col("cont_a_bp").desc, col("cont_b_bp").desc)
          .show(20, truncate = false)
        val byRel = pairs.groupBy("relation").count().collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
        println(s"pairs at >= ${thresholdBp}bp containment: ${pairs.count()} ($byRel)")
        pairs.unpersist()
      }

    case "dup-spans" :: file :: rest if rest.size <= 1 =>
      // exact-substring duplicate spans over a documents parquet: the
      // boilerplate/quoted passages a curation pipeline cuts (Lee et al.
      // ACL'22 ExactSubstr mode, fixed window)
      val windowTokens = Harness.orExit(intArg("WINDOW_TOKENS", rest, 20))
      withSpark { spark =>
        val (spans, rollup) = dupSpansReport(spark, file, windowTokens)
        spans.orderBy(col("span_tokens").desc).show(20, truncate = false)
        println(rollup)
        spans.unpersist()
      }

    case "cut-spans" :: file :: outDir :: rest if rest.size <= 1 =>
      // the dedup ACTION as a file tool: write the keep-earliest-cleaned
      // corpus (doc_id, n_tokens, cut_tokens, text_cut) as parquet and
      // print the removal rollup — hash128 identity, the production
      // configuration (a 64-bit window collision would delete text)
      val windowTokens = Harness.orExit(intArg("WINDOW_TOKENS", rest, 20))
      withSpark { spark =>
        val (rows, rollup) = cutSpansReport(spark, file, outDir, windowTokens)
        println(rollup)
        rows.unpersist()
      }

    case "dup-spans-approx" :: file :: rest if rest.size <= 1 =>
      // the cheap first-pass: KMV-sketched substring-duplication estimate
      // (one narrow kernel pass, no per-window shuffle) — run this before
      // committing to a full cut-spans over a big corpus
      val windowTokens = Harness.orExit(intArg("WINDOW_TOKENS", rest, 20))
      withSpark(spark => println(dupSpansApproxReport(spark, file, windowTokens)._1))

    case "span-index" :: file :: outDir :: rest if rest.size <= 1 =>
      // persist the corpus's distinct window-identity index (hash128) —
      // the base side of incremental span dedup; build once, refresh
      // batches cut against it without re-hashing this corpus
      val windowTokens = Harness.orExit(intArg("WINDOW_TOKENS", rest, 20))
      withSpark(spark => println(spanIndexReport(spark, file, outDir, windowTokens)._2))

    case "cut-spans-incremental" :: idxDir :: file :: outDir :: rest
        if rest.size <= 1 =>
      // nightly refresh: cut BATCH documents against a span-index built
      // earlier (plus the batch itself), write the cleaned batch parquet
      val windowTokens = Harness.orExit(intArg("WINDOW_TOKENS", rest, 20))
      withSpark { spark =>
        val (rows, rollup) =
          cutSpansIncrementalReport(spark, idxDir, file, outDir, windowTokens)
        println(rollup)
        rows.unpersist()
      }

    case "dup-lines" :: file :: rest if rest.size <= 1 =>
      // line-level exact duplicate classes over a documents parquet: the
      // boilerplate lines (headers/footers/banners) a RefinedWeb-style
      // line-wise pass removes
      val minChars = Harness.orExit(intArg("MIN_LINE_CHARS", rest, 10))
      withSpark { spark =>
        val (classes, rollup) = dupLinesReport(spark, file, minChars)
        classes.orderBy(col("n_occ").desc, col("line"))
          .show(20, truncate = false)
        println(rollup)
      }

    case "dup-lines-approx" :: file :: rest if rest.size <= 1 =>
      // the cheap first-pass: KMV-sketched line-duplication estimate (one
      // narrow pass, no per-line shuffle) — run this before committing to
      // a full cut-lines over a big corpus
      val minChars = Harness.orExit(intArg("MIN_LINE_CHARS", rest, 10))
      withSpark(spark => println(dupLinesApproxReport(spark, file, minChars)._1))

    case "cut-lines" :: file :: outDir :: rest if rest.size <= 1 =>
      // the line-dedup ACTION as a file tool: write the keep-earliest
      // line-cleaned corpus (doc_id, n_lines, n_dropped, chars_dropped,
      // text_clean) as parquet and print the removal rollup
      val minChars = Harness.orExit(intArg("MIN_LINE_CHARS", rest, 10))
      withSpark(spark => println(cutLinesReport(spark, file, outDir, minChars)._2))

    case "line-index" :: file :: outDir :: rest if rest.size <= 1 =>
      // persist the corpus's distinct line-identity index — the base
      // side of incremental line dedup; build once, refresh batches cut
      // against it without re-reading this corpus
      val minChars = Harness.orExit(intArg("MIN_LINE_CHARS", rest, 10))
      withSpark(spark => println(lineIndexReport(spark, file, outDir, minChars)._2))

    case "cut-lines-incremental" :: idxDir :: file :: outDir :: rest
        if rest.size <= 1 =>
      // nightly refresh: cut BATCH documents against a line-index built
      // earlier (plus the batch itself), write the cleaned batch parquet
      val minChars = Harness.orExit(intArg("MIN_LINE_CHARS", rest, 10))
      withSpark(spark => println(
        cutLinesIncrementalReport(spark, idxDir, file, outDir, minChars)._2))

    case "phash-dedup" :: files if files.nonEmpty => withSpark { spark =>
      // perceptual (visual) dedup over real image files: decode → dHash →
      // exact groups + hamming<=3 near matches; file_idx keys the report
      val (paths, withIds) = blobsWithIds(spark, files)
      // decode+hash ONCE; both the exact grouping and the near-pair
      // search consume the same cached (id, sig) relation
      val sigs = graft.operators.Multimodal
        .phashRelation(withIds, "blob_id", "content").cache()
      val canon = sigs.groupBy(col("sig"))
        .agg(min(col("id")).as("visual_canonical"))
      sigs.join(canon, Seq("sig"))
        .select(col("id"), col("sig"), col("visual_canonical"),
          (col("id") =!= col("visual_canonical")).as("is_visual_dup"))
        .collect().sortBy(_.getLong(0))
        .foreach { r =>
          val mark = if (r.getBoolean(3))
            s"DUP of ${paths(r.getLong(2).toInt)}" else "canonical"
          println(f"${paths(r.getLong(0).toInt)}%s  phash=${r.getLong(1)}%016x  $mark")
        }
      Dedupe.hammingPairs(sigs).filter(col("hamming") > 0).collect()
        .foreach(r => println(f"NEAR (hamming ${r.getLong(2)}): " +
          f"${paths(r.getLong(0).toInt)}%s ~ ${paths(r.getLong(1).toInt)}%s"))
    }

    case "video-fp" :: files if files.nonEmpty => withSpark { spark =>
      // keyframe near-dup over real Y4M files: from-scratch decode → 4
      // keyframe dHashes per video → hamming<=3 pairs, reported
      // per-keyframe-slot; file_idx keys the report like phash-dedup
      val (paths, withIds) = blobsWithIds(spark, files)
      val sigs = graft.operators.Multimodal
        .videoFpRelation(withIds, "blob_id", "content").cache()
      sigs.collect().sortBy(_.getLong(0)).foreach { r =>
        val vid = r.getLong(0)
        println(f"${paths((vid / 4).toInt)}%s slot ${vid % 4}  sig=${r.getLong(1)}%016x")
      }
      Dedupe.hammingPairs(sigs).collect()
        .sortBy(r => (r.getLong(0), r.getLong(1)))
        .foreach { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          println(s"MATCH (hamming ${r.getLong(2)}): " +
            s"${paths((a / 4).toInt)} slot ${a % 4} ~ " +
            s"${paths((b / 4).toInt)} slot ${b % 4}")
        }
      sigs.unpersist()
    }

    case "viz" :: rest if rest.size >= 2 => withSpark { spark =>
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
    }

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
