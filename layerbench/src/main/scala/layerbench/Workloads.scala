package layerbench

import java.nio.file.{Files, Path}
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{Chunker, ChunkerParams}
import graft.operators.{CompareFormats, CuratePipeline, Dedupe, EstimationResult, Estimator, LineDedupe}
import graft.sources.TableFormat
import graft.streaming.StreamCdc
import graft.synthetic.{DType, DataGenerator}

final case class Ctx(spark: SparkSession, nproc: Int, seed: Long)

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, msg: => String): Unit = if (!cond) throw new CheckFailed(msg)
}

/** The workload's own data, for the layer probes of a traced run. */
final case class ProbeData(
    files: Seq[String],
    kernelBytes: Array[Byte],
    kernelParams: ChunkerParams,
    binary: DataFrame, // one BINARY column `content`
    table: DataFrame)  // a table the writers probe writes in every grid format

/** One workload: a timed set-up that makes its inputs from the seed, and one
  * operation that the closed loop repeats and checks.
  */
trait Workload {
  def name: String
  def setup(ctx: Ctx, dir: Path): Unit
  /** Reference results for the checks; computed after the timed set-up. */
  def references(ctx: Ctx): Unit = ()
  /** Untimed clean-up between operations. */
  def beforeOp(ctx: Ctx): Unit = ()
  def op(ctx: Ctx, opId: Int): Unit
  /** Stated input size of one operation, in bytes. */
  def inputBytes: Long
  /** Layer metrics of one traced operation, read from its spans. */
  def opMetrics(ctx: Ctx, opSpan: Span, spans: Seq[Span]): Map[String, Double] = Map.empty
  def probeData(ctx: Ctx): ProbeData
  def release(): Unit = ()
}

object Workload {
  val Names: Seq[String] = Seq("revisions_estimate", "synthetic_grid", "text_curate", "stream_cdc")

  def apply(name: String, tiny: Boolean): Workload = name match {
    case "revisions_estimate" => new RevisionsEstimate(if (tiny) 600 else 16000, if (tiny) 2 else 4)
    case "synthetic_grid" => new SyntheticGrid(if (tiny) 200 else 3000)
    case "text_curate" => new TextCurate(if (tiny) CorpusSize(150, 10, 2, 10, 10) else CorpusSize(1000, 50, 2, 50, 50))
    case "stream_cdc" => new StreamCdc(if (tiny) CorpusSize(300, 10, 2, 10, 10) else CorpusSize(10000, 200, 2, 1000, 100),
      if (tiny) 2 else 8)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; one of ${Names.mkString(", ")}")
  }

  def fileBytes(paths: Seq[String]): Long = paths.map(p => Files.size(java.nio.file.Paths.get(p))).sum

  def concatFiles(paths: Seq[String], cap: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    paths.iterator.takeWhile(_ => out.size() < cap).foreach(p =>
      out.write(Files.readAllBytes(java.nio.file.Paths.get(p))))
    out.toByteArray.take(cap)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def listFiles(dir: Path): Seq[String] = {
    val s = Files.walk(dir)
    try {
      val it = s.iterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .map(_.toString).toVector.sorted
    } finally s.close()
  }

  /** Seeded edit points in (0.1, 0.9), one in the middle of each of `n`
    * equal bins, so the edited row ranges never overlap.
    */
  def editPoints(rnd: Random, n: Int): Seq[Double] = {
    val w = 0.8 / n
    (0 until n).map(i => 0.1 + w * (i + 0.1 + 0.8 * rnd.nextDouble()))
  }
}

/** Single-threaded chunk totals of a file set with graft's `cdc` kernels:
  * (Σ chunk bytes, unique chunk bytes, unique compressed bytes).
  */
object Reference {
  def chunkTotals(paths: Seq[String], params: ChunkerParams): (Long, Long, Long) = {
    val seen = new java.util.HashMap[Long, (Int, Int)]()
    var total = 0L
    paths.foreach { p =>
      Chunker.chunkStats(Files.readAllBytes(java.nio.file.Paths.get(p)), params).foreach {
        case (h, size, comp) => total += size; seen.putIfAbsent(h, (size, comp))
      }
    }
    var u, c = 0L
    seen.values().forEach { case (s, cc) => u += s; c += cc }
    (total, u, c)
  }
}

/** `Cli dedup`: Estimator.estimate over successive revisions of a sharded
  * synthetic Parquet table, built with graft.synthetic's edit operators.
  */
final class RevisionsEstimate(rows: Long, shards: Int) extends Workload {
  val name = "revisions_estimate"
  private val schema = DType.parseSchema("""{"a":"int","b":"float","s":"largestr","t":"str"}""")
  private var files: Seq[String] = Nil
  private var bytes = 0L
  private var refDefault, refXet: (Long, Long, Long) = _

  def setup(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    val gen = new DataGenerator(schema, ctx.seed)
    val rnd = new Random(ctx.seed)
    val k = math.max(1, (rows / 200).toInt)
    // each revision is materialized once, so the next edit does not recompute the chain
    def keep(df: DataFrame): DataFrame = df.localCheckpoint()
    val r0 = Trace.span("synthetic:DataGenerator.generate")(keep(gen.generate(spark, rows)))
    val n1 = rows + 3L * k
    val revs = Trace.span("synthetic:DataGenerator.edits") {
      val r1 = keep(gen.insertRows(spark, r0, rows, Workload.editPoints(rnd, 3), k))
      val r2 = keep(gen.deleteRows(r1, n1, Workload.editPoints(rnd, 3), k))
      val r3 = keep(gen.updateRows(spark, r2, rows, Workload.editPoints(rnd, 3)))
      val r4 = keep(gen.appendRows(spark, r3, rows, 0.05))
      Seq(r0, r1, r2, r3, r4)
    }
    files = Trace.span("sources:TableFormat.write") {
      revs.zipWithIndex.flatMap { case (r, i) =>
        TableFormat.ParquetFormat(singleFile = false)
          .write(r.repartitionByRange(shards, col("id")).sortWithinPartitions("id"), dir, s"rev$i", "table")
      }
    }
    bytes = Workload.fileBytes(files)
  }

  override def references(ctx: Ctx): Unit = {
    refDefault = Reference.chunkTotals(files, ChunkerParams.Default)
    refXet = Reference.chunkTotals(files, ChunkerParams.Xet)
  }

  def op(ctx: Ctx, opId: Int): Unit = {
    val r = Trace.span("operators.estimator:Estimator.estimate", opId)(Estimator.estimate(ctx.spark, files))
    Trace.span("bench:check", opId) {
      Check(r.numfiles == files.size, s"numfiles ${r.numfiles} != ${files.size}")
      Check(r.total_len == inputBytes, s"total_len ${r.total_len} != file bytes $inputBytes")
      Check(r.chunk_bytes == refDefault._2, s"chunk_bytes ${r.chunk_bytes} != reference ${refDefault._2}")
      Check(r.compressed_chunk_bytes == refDefault._3,
        s"compressed_chunk_bytes ${r.compressed_chunk_bytes} != reference ${refDefault._3}")
      Check(r.xet_bytes == refXet._2, s"xet_bytes ${r.xet_bytes} != reference ${refXet._2}")
    }
  }

  def inputBytes: Long = bytes

  def probeData(ctx: Ctx): ProbeData = ProbeData(files, Workload.concatFiles(files, 64 << 20),
    ChunkerParams.Default,
    ctx.spark.read.format("binaryFile").load(files: _*).select(col("content")),
    ctx.spark.read.parquet(files.filter(_.contains("/rev0/")): _*))
}

/** `de synthetic`: each operation generates the original table and its edit
  * variants, writes every table under the default grid with JSON lines,
  * sanity check on, and estimates the grid in one job.
  */
final class SyntheticGrid(rows: Long) extends Workload {
  val name = "synthetic_grid"
  private val schema = DType.parseSchema("""{"a":"int","b":"float","s":"str","l":["int"]}""")
  private var dir: Path = _
  private var gen: DataGenerator = _
  private var points: Seq[Double] = Nil
  private val editSize = math.max(1, (rows / 50).toInt)
  private val formats = TableFormat.defaultGrid(withJson = true)
  private var written = 0L

  def setup(ctx: Ctx, dir: Path): Unit = {
    this.dir = dir
    gen = new DataGenerator(schema, ctx.seed)
    points = Workload.editPoints(new Random(ctx.seed), 2)
  }

  override def beforeOp(ctx: Ctx): Unit = Workload.deleteTree(dir)

  def op(ctx: Ctx, opId: Int): Unit = {
    val spark = ctx.spark
    val tables = Trace.span("synthetic:DataGenerator.generateSyntheticTables", opId) {
      gen.generateSyntheticTables(spark, rows, points, editSize)
    }
    val grouped = tables.collect {
      case (v, df) if v != "original" => v -> Map("original" -> tables("original"), v -> df)
    }
    val results = Trace.span("operators.compare_formats:CompareFormats.compareTables", opId) {
      CompareFormats.compareTables(spark, grouped, formats, dir)
    }
    Trace.span("bench:check", opId)(check(grouped.keySet, results))
  }

  private def check(groups: Set[String], results: Seq[EstimationResult]): Unit = {
    val cells = for (g <- groups; f <- formats.map(_.name)) yield (g, f)
    Check(results.map(r => (r.group, r.format)).toSet == cells,
      s"grid cells ${results.map(r => (r.group, r.format)).sorted} != ${cells.toSeq.sorted}")
    var total = 0L
    results.foreach { r =>
      val files = Workload.listFiles(dir.resolve(r.group).resolve(r.format))
      val bytes = Workload.fileBytes(files)
      Check(r.numfiles == 2 && files.size == 2, s"${r.group}/${r.format}: ${r.numfiles} files, ${files.size} on disk")
      Check(r.total_len == bytes, s"${r.group}/${r.format}: total ${r.total_len} != file bytes $bytes")
      Check(r.chunk_bytes > 0 && r.chunk_bytes <= r.total_len, s"${r.group}/${r.format}: chunk bytes ${r.chunk_bytes}")
      total += bytes
    }
    if (written == 0L) written = total
  }

  def inputBytes: Long = written

  def probeData(ctx: Ctx): ProbeData = {
    val files = Workload.listFiles(dir)
    ProbeData(files, Workload.concatFiles(files, 64 << 20), ChunkerParams.Default,
      ctx.spark.read.format("binaryFile").load(files: _*).select(col("content")),
      gen.generate(ctx.spark, rows))
  }

  override def opMetrics(ctx: Ctx, opSpan: Span, spans: Seq[Span]): Map[String, Double] = Map(
    "synthetic.gen_s" -> Metrics.spanSeconds(spans, "synthetic:"),
    "operators.compare_formats.grid_s" -> Metrics.spanSeconds(spans, "operators.compare_formats:"))
}

final case class CorpusSize(base: Int, families: Int, variants: Int, exactDups: Int, lowQuality: Int)

/** The training-data pipeline on a seeded corpus: curate, MinHash pairs,
  * distributed duplicate clusters, line dedupe, and a Parquet write of the
  * cleaned corpus.
  */
final class TextCurate(size: CorpusSize) extends Workload {
  val name = "text_curate"
  private var corpus: Corpus = _
  private var docs: DataFrame = _
  private var docFiles: Seq[String] = Nil
  private var out: Path = _
  private var canonical: Option[Seq[Any]] = None
  private var lastRecall = 0.0
  private var lastPairs = 0L
  private var lastPlanNodes = 0L

  def setup(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    corpus = Corpus.build(ctx.seed, size.base, size.families, size.variants, size.exactDups, size.lowQuality)
    val docDir = dir.resolve("docs")
    corpus.docs.toDS().repartition(ctx.nproc).write.parquet(docDir.toString)
    docFiles = Workload.listFiles(docDir).filter(_.endsWith(".parquet"))
    docs = spark.read.parquet(docDir.toString).cache()
    docs.count()
    out = dir.resolve("cleaned")
  }

  // Each step's output is checkpointed before the next step reads it. Fed
  // the cached output of the previous step directly, the nested cached
  // plans made Spark spend tens of seconds rendering plan strings for the
  // SQL execution events at 150 documents.
  def op(ctx: Ctx, opId: Int): Unit = {
    val (annotated, fates) = Trace.span("operators.curate:CuratePipeline.curate", opId) {
      val a = CuratePipeline.curate(docs, "doc_id", "text").localCheckpoint()
      (a, a.groupBy("fate").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    val alive = annotated.filter(col("fate").isin("kept", "near_dup")).select("doc_id", "text")
    val pairs = Trace.span("operators.dedupe:Dedupe.minhashPairs", opId) {
      val p = Dedupe.minhashPairs(alive, "doc_id", "text")
      val c = p.localCheckpoint()
      p.unpersist()
      c
    }
    val found = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (labels, clusters) = Trace.span("operators.dedupe:Dedupe.duplicateClusters", opId) {
      val l = Dedupe.duplicateClusters(pairs, singleTaskEdgeCap = 0)
      val c = l.agg(countDistinct("cluster_id"), count(lit(1))).head()
      (l, (c.getLong(0), c.getLong(1)))
    }
    lastPlanNodes = labels.queryExecution.analyzed.collect { case p => p }.size.toLong
    val dropped = labels.filter(col("id") =!= col("cluster_id")).select(col("id").as("doc_id"))
    val survivors = alive.join(dropped, Seq("doc_id"), "left_anti").localCheckpoint()
    val (cut, cutTotals) = Trace.span("operators.line_dedupe:LineDedupe.cutDuplicateLines", opId) {
      val c = LineDedupe.cutDuplicateLines(survivors, "doc_id", "text").localCheckpoint()
      val t = c.agg(count(lit(1)), sum("n_dropped"), sum("chars_dropped")).head()
      (c, Seq(t.getLong(0), t.getLong(1), t.getLong(2)))
    }
    Trace.span("spark:write.parquet", opId) {
      cut.select(col("doc_id"), col("text_clean").as("text")).write.mode("overwrite").parquet(out.toString)
    }
    lastPairs = found.size.toLong
    lastRecall = corpus.nearPairs.count(found.contains).toDouble / math.max(1, corpus.nearPairs.size)
    Trace.span("bench:check", opId) {
      Check(fates.values.sum == corpus.docs.size, s"fates cover ${fates.values.sum} of ${corpus.docs.size} docs")
      Check(fates.getOrElse("exact_dup", 0L) == corpus.exactDups,
        s"exact_dup ${fates.getOrElse("exact_dup", 0L)} != planted ${corpus.exactDups}")
      Check(fates.getOrElse("quality", 0L) == corpus.lowQuality,
        s"quality ${fates.getOrElse("quality", 0L)} != planted ${corpus.lowQuality}")
      val result = Seq(fates.toSeq.sorted, found.toSeq.sorted, clusters, cutTotals)
      Check(canonical.forall(_ == result), s"result differs from the first operation's")
      canonical = Some(result)
    }
    Seq(annotated, pairs, survivors, cut).foreach(_.unpersist())
    Dedupe.releaseTrackedCaches()
  }

  def inputBytes: Long = corpus.textBytes

  override def opMetrics(ctx: Ctx, opSpan: Span, spans: Seq[Span]): Map[String, Double] = Map(
    "operators.curate.s" -> Metrics.spanSeconds(spans, "operators.curate:"),
    "operators.dedupe.minhash_pairs_s" -> Metrics.spanSeconds(spans, "operators.dedupe:Dedupe.minhashPairs"),
    "operators.dedupe.pairs" -> lastPairs.toDouble,
    "operators.dedupe.planted_recall" -> lastRecall,
    "operators.dedupe.clusters_s" -> Metrics.spanSeconds(spans, "operators.dedupe:Dedupe.duplicateClusters"),
    "operators.dedupe.clusters_plan_nodes" -> lastPlanNodes.toDouble,
    "operators.line_dedupe.cut_s" -> Metrics.spanSeconds(spans, "operators.line_dedupe:"))

  def probeData(ctx: Ctx): ProbeData = ProbeData(docFiles,
    corpus.docs.map(_.text).mkString("\n").getBytes("UTF-8"), ChunkerParams.Default,
    docs.select(encode(col("text"), "UTF-8").as("content")), docs)

  override def release(): Unit = if (docs != null) docs.unpersist()
}

/** StreamCdc.runEstimateOnce over a directory of document Parquet files: a
  * finite backfill drained into the memory sink, 16–256 B chunks.
  */
final class StreamCdc(size: CorpusSize, files: Int) extends Workload {
  val name = "stream_cdc"
  private var corpus: Corpus = _
  private var dir: Path = _
  private var twin: (Long, Long, Long) = _
  private var lastQuery = ""
  val Params = ChunkerParams(mask = -1L << 59, minLen = 16, maxLen = 256)

  def setup(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    corpus = Corpus.build(ctx.seed, size.base, size.families, size.variants, size.exactDups, size.lowQuality)
    this.dir = dir.resolve("docs")
    corpus.docs.toDS().repartition(files).write.parquet(this.dir.toString)
  }

  /** The batch twin: the same cdc_chunks plan and per-hash merge, no stream. */
  override def references(ctx: Ctx): Unit = {
    val r = ctx.spark.read.parquet(dir.toString)
      .select(graft.plans.CdcChunks.cdc_chunks(encode(col("text"), "UTF-8"), 16, 256, 5))
      .groupBy("hash").agg(min("size").as("size"), sum("size").as("occ"))
      .agg(sum("occ"), sum("size"), count(lit(1))).head()
    twin = (r.getLong(0), r.getLong(1), r.getLong(2))
    Check(twin._1 == corpus.textBytes, s"batch twin total ${twin._1} != corpus bytes ${corpus.textBytes}")
  }

  def op(ctx: Ctx, opId: Int): Unit = {
    lastQuery = s"layerbench_stream_${opId.abs}"
    val row = Trace.span("streaming:StreamCdc.runEstimateOnce", opId) {
      StreamCdc.runEstimateOnce(ctx.spark, dir.toString, lastQuery).collect().head
    }
    Trace.span("bench:check", opId) {
      val got = (row.getAs[Long]("total_bytes"), row.getAs[Long]("unique_bytes"), row.getAs[Long]("unique_chunks"))
      Check(got == twin, s"stream (total, unique, chunks) $got != batch twin $twin")
    }
  }

  def inputBytes: Long = corpus.textBytes

  override def opMetrics(ctx: Ctx, opSpan: Span, spans: Seq[Span]): Map[String, Double] = {
    val ts = Trace.triggersOf(lastQuery)
    def d(k: String): Double = ts.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    Map(
      "streaming.triggers" -> ts.size.toDouble,
      "streaming.trigger_ms" -> d("triggerExecution"),
      "streaming.add_batch_ms" -> d("addBatch"),
      "streaming.query_planning_ms" -> d("queryPlanning"),
      "streaming.latest_offset_ms" -> d("latestOffset"),
      "streaming.wal_commit_ms" -> d("walCommit"),
      "streaming.state_commit_ms" -> ts.map(_.stateCommitMs).sum.toDouble,
      "streaming.state_rows" -> (0L +: ts.map(_.stateRows)).max.toDouble,
      "streaming.state_mib" -> (0L +: ts.map(_.stateBytes)).max / Metrics.MiB,
      "streaming.sink_reduce_s" ->
        (Metrics.spanSeconds(spans, "streaming:") - d("triggerExecution") / 1000.0))
  }

  def probeData(ctx: Ctx): ProbeData = {
    val docs = ctx.spark.read.parquet(dir.toString)
    ProbeData(Workload.listFiles(dir).filter(_.endsWith(".parquet")),
      corpus.docs.map(_.text).mkString("\n").getBytes("UTF-8"), Params,
      docs.select(encode(col("text"), "UTF-8").as("content")), docs)
  }
}
