package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.TableFormat
import graft.cdc.ChunkerParams
import java.nio.file.Path

/** The comparison harness (reference: compare_formats_tables,
  * de/estimate.py:41-84 + `de stats` / `de synthetic` pipelines,
  * SURVEY §3.2-3.3): write every (group, table) under every format, then
  * estimate dedup per (group, format) cell.
  *
  * Scale shape: writes are independent Spark jobs; the estimation is ONE
  * tagged job (Estimator.estimateGrid) — a single shuffle keyed by
  * (group, format, hash) instead of formats × groups separate jobs.
  *
  * Post-write sanity check (reference de/formats.py:116-129): row count +
  * schema arity preserved, asserted per write.
  */
object CompareFormats {

  /** Submit independent Spark write jobs concurrently (the reference's
    * ThreadPoolExecutor, de/estimate.py:57-68) — jobs overlap in the
    * scheduler; results come back in input order. THE write-concurrency
    * discipline for every multi-write call site.
    */
  private[graft] def concurrentWrites[A](jobs: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(jobs.map(j => Future(j()))), Duration.Inf)
  }

  def compareTables(
      spark: SparkSession,
      tables: Map[String, Map[String, DataFrame]], // group -> table name -> df
      formats: Seq[TableFormat],
      directory: Path,
      params: ChunkerParams = ChunkerParams.Default,
      sanityCheck: Boolean = true,
      sideSink: Option[(String, DataFrame) => DataFrame] = None): Seq[EstimationResult] = {
    val cells = for {
      (group, groupTables) <- tables.toSeq.sortBy(_._1)
      fmt <- formats
      (tableName, df) <- groupTables.toSeq.sortBy(_._1)
    } yield (group, fmt, tableName, df)
    val files = concurrentWrites(cells.map { case (group, fmt, tableName, df) =>
      () => {
        val written = fmt.write(df, directory, group, tableName)
        if (sanityCheck) verifyWrite(spark, df, fmt, written)
        written.map(p => (group, fmt.name, p))
      }
    }).flatten
    Estimator.estimateGrid(spark, files, params, sideSink = sideSink)
  }

  private def verifyWrite(
      spark: SparkSession,
      src: DataFrame,
      fmt: TableFormat,
      paths: Seq[String]): Unit = {
    val back = fmt match {
      case _: TableFormat.ParquetFormat => Some(spark.read.parquet(paths: _*))
      case _: TableFormat.OrcFormat => Some(spark.read.orc(paths: _*))
      case _: TableFormat.JsonLinesFormat => Some(spark.read.json(paths: _*))
      case _ => None // CSV round-trip loses types; count-only below
    }
    back.foreach { b =>
      val n = b.count()
      val expected = src.count()
      require(n == expected, s"${fmt.name}: wrote $n rows, expected $expected")
      require(b.schema.fields.length == src.schema.fields.length,
        s"${fmt.name}: schema arity changed")
    }
  }

  /** Writer-parameter sweep (reference: compare_formats de/estimate.py:87-119
    * + `de param-impact` de/cli.py:310-349): one baseline format vs a list
    * of contenders over the same table, one estimation cell each — shows
    * how a knob (row-group size, page size) moves the dedup ratio.
    */
  def paramImpact(
      spark: SparkSession,
      table: DataFrame,
      baseline: TableFormat,
      contenders: Seq[TableFormat],
      directory: Path,
      params: ChunkerParams = ChunkerParams.Default): Seq[EstimationResult] = {
    val files = (baseline +: contenders).flatMap { fmt =>
      fmt.write(table, directory, "param-impact", "t").map(p => ("param-impact", fmt.name, p))
    }
    Estimator.estimateGrid(spark, files, params)
  }

  /** Markdown table emitter (the reference's `visualize` markdown output,
    * de/__init__.py:28-80): one row per result, best-in-group bolded.
    */
  def formatMarkdown(results: Seq[EstimationResult]): String = {
    val sb = new StringBuilder
    sb.append("| group | format | files | total | chunks | dedup ratio | xet ratio |\n")
    sb.append("|---|---|---|---|---|---|---|\n")
    results.groupBy(_.group).toSeq.sortBy(_._1).foreach { case (_, rs) =>
      val best = rs.map(_.dedup_ratio).min
      rs.sortBy(_.dedup_ratio).foreach { r =>
        val ratio = f"${r.dedup_ratio * 100}%.1f%%"
        val cell = if (r.dedup_ratio == best) s"**$ratio**" else ratio
        sb.append(s"| ${r.group} | ${r.format} | ${r.numfiles} | ${r.total_len} " +
          f"| ${r.chunk_bytes} | $cell | ${r.xet_dedup_ratio * 100}%.1f%% |\n")
      }
    }
    sb.result()
  }

  /** Self-contained HTML grouped-bar report (the reference's plotly grouped
    * bars, de/display.py:91-137, without the plotly dependency): one group
    * per section, one bar per format, bar length = dedup ratio. Colors
    * follow the FORMAT (entity) in a fixed assignment, not its rank within
    * a group; every bar carries a visible value label plus a tooltip with
    * the byte totals and xet ratio; light/dark via CSS custom properties.
    */
  def barReportHtml(results: Seq[EstimationResult]): String = {
    // categorical palette (validated order; light/dark steps per surface)
    val light = Seq("#2a78d6", "#eb6834", "#1baf7a", "#eda100", "#e87ba4",
      "#008300", "#4a3aa7", "#e34948")
    val dark = Seq("#3987e5", "#d95926", "#199e70", "#c98500", "#d55181",
      "#008300", "#9085e9", "#e66767")
    val formats = results.map(_.format).distinct.sorted
    // color follows the format across all groups; >8 formats fold to gray
    // (labels still identify them) rather than cycling hues
    val slot = formats.zipWithIndex.toMap
    def vars(cols: Seq[String]): String =
      formats.map(f => slot(f) match {
        case i if i < cols.size => s"--s$i:${cols(i)};"
        case i => s"--s$i:#8a8984;"
      }).mkString
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace("\"", "&quot;")
    // machine-consumed numbers (CSS widths) and report values must be
    // locale-invariant: the f interpolator uses the JVM default locale,
    // which under comma-decimal locales emits CSS browsers discard
    def num1(d: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, d)
    def num2(d: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, d)
    val sb = new StringBuilder
    sb.append(
      s"""<!doctype html><html><head><meta charset="utf-8"><style>
         |.viz{color-scheme:light;--surface:#fcfcfb;--ink:#0b0b0b;--ink2:#52514e;
         |  --grid:#e7e6e2;${vars(light)}
         |  background:var(--surface);color:var(--ink);
         |  font:13px/1.4 system-ui,sans-serif;padding:16px;max-width:720px}
         |@media (prefers-color-scheme:dark){.viz{color-scheme:dark;
         |  --surface:#1a1a19;--ink:#ffffff;--ink2:#c3c2b7;--grid:#383835;${vars(dark)}}}
         |.viz h2{font-size:15px;margin:14px 0 6px}
         |.viz .legend{display:flex;gap:14px;flex-wrap:wrap;margin:6px 0 10px;color:var(--ink2)}
         |.viz .legend span{display:inline-flex;align-items:center;gap:5px}
         |.viz .sw{width:10px;height:10px;border-radius:2px;display:inline-block}
         |.viz .row{display:grid;grid-template-columns:170px 1fr 52px;
         |  align-items:center;gap:8px;margin:2px 0}
         |.viz .lbl{color:var(--ink2);text-align:right;overflow:hidden;
         |  text-overflow:ellipsis;white-space:nowrap}
         |.viz .track{position:relative;height:14px;
         |  background:linear-gradient(to right,var(--grid) 1px,transparent 1px);
         |  background-size:25% 100%}
         |.viz .bar{height:14px;border-radius:0 4px 4px 0;display:inline-block;
         |  vertical-align:top}
         |.viz .val{color:var(--ink);font-variant-numeric:tabular-nums}
         |</style></head><body><div class="viz">
         |<h1 style="font-size:17px;margin:0">Dedup ratio by group and format</h1>
         |<div class="legend">""".stripMargin)
    formats.foreach { f =>
      sb.append(s"""<span><span class="sw" style="background:var(--s${slot(f)})"></span>${esc(f)}</span>""")
    }
    sb.append("</div>")
    results.groupBy(_.group).toSeq.sortBy(_._1).foreach { case (group, rs) =>
      sb.append(s"<h2>${esc(group)}</h2>")
      rs.sortBy(_.format).foreach { r =>
        val pct = r.dedup_ratio * 100
        val tip = s"${esc(r.format)}: ${r.chunk_bytes} of ${r.total_len} bytes " +
          s"unique (${num1(pct)}%); xet ${num1(r.xet_dedup_ratio * 100)}%; " +
          s"${r.numfiles} files"
        sb.append(
          s"""<div class="row"><div class="lbl">${esc(r.format)}</div>
             |<div class="track" title="$tip"><span class="bar"
             |  style="width:${num2(math.min(100.0, pct))}%;background:var(--s${slot(r.format)})"></span></div><span
             |  class="val">${num1(pct)}%</span></div>""".stripMargin)
      }
    }
    sb.append("</div></body></html>")
    sb.result()
  }

  /** Plain-text report table (the reference's rich table, de/display.py:32-88,
    * sans colors): sections per group, best dedup ratio starred, humanized
    * sizes, ratio bar.
    */
  def formatReport(results: Seq[EstimationResult]): String = {
    def human(b: Long): String = {
      val units = Seq("B", "KiB", "MiB", "GiB", "TiB")
      var v = b.toDouble
      var u = 0
      while (v >= 1024 && u < units.size - 1) { v /= 1024; u += 1 }
      f"$v%.1f ${units(u)}"
    }
    def bar(ratio: Double): String = {
      val width = 20
      val filled = math.round(ratio * width).toInt.min(width).max(0)
      "#" * filled + "." * (width - filled)
    }
    val sb = new StringBuilder
    sb.append(f"${"group"}%-12s ${"format"}%-24s ${"files"}%5s ${"total"}%10s ${"chunks"}%10s ${"ratio"}%7s ${"xet"}%7s\n")
    results.groupBy(_.group).toSeq.sortBy(_._1).foreach { case (_, rs) =>
      val best = rs.map(_.dedup_ratio).min
      rs.sortBy(_.dedup_ratio).foreach { r =>
        val star = if (r.dedup_ratio == best) "*" else " "
        sb.append(
          f"${r.group}%-12s ${r.format}%-24s ${r.numfiles}%5d ${human(r.total_len)}%10s " +
            f"${human(r.chunk_bytes)}%10s ${r.dedup_ratio * 100}%6.1f%%$star ${r.xet_dedup_ratio * 100}%6.1f%% ${bar(r.dedup_ratio)}\n")
      }
    }
    sb.result()
  }
}
