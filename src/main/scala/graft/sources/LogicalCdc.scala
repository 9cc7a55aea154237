package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.cdc.{ChunkScan, ChunkerParams, ScannedChunk}
import graft.operators.ChunkRow

/** Logical-CDC reader: chunk the UNCOMPRESSED column-chunk page streams of
  * parquet files instead of their physical bytes (SURVEY §7.1(b)).
  *
  * Why: the reference's headline CDC-parquet results (README.md:102-105;
  * notebooks/parquet-cdc.md §5 — inserted-rows dedup 95% → 53%) come from a
  * forked arrow writer that aligns data-page boundaries with content-defined
  * chunk boundaries. Spark has no writer hook for that (de/formats.py:14-18,
  * src/fileutils.rs:25-27 document the same constraint), but the EFFECT is
  * reproducible at read time: concatenate each column chunk's decompressed
  * page payloads into one logical byte stream and CDC-chunk THAT. Row
  * inserts shift page framing and kill physical-byte dedup, while the
  * logical value stream re-synchronizes at the next content-defined
  * boundary — exactly what the CDC-aware writer buys.
  *
  * Scale shape: one task per (file, leaf column); each task projects the
  * file schema down to its column's top-level field (so parquet reads only
  * that subtree's bytes), then streams pages lazily through ChunkScan —
  * memory is bounded by one page plus the scan window (read buffer +
  * maxLen), never the column or file size.
  * chunk_idx encodes (column ordinal << 40 | position) so per-column chunk
  * order is preserved within the shared file_idx.
  */
object LogicalCdc {

  private final val ColIdxShift = 40

  /** Chunk every leaf column's logical page stream across `paths`.
    * file_idx follows the input path order, like ChunkRelation.chunkFiles.
    */
  def chunkColumns(
      spark: SparkSession,
      paths: Seq[String],
      params: ChunkerParams = ChunkerParams.Default): Dataset[ChunkRow] = {
    import spark.implicits._
    val parallelism =
      math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism))
    // (file, column) task enumeration reads footers DISTRIBUTED (one
    // footer per file task — a driver-side loop would serialize at
    // million-file scale), then reshuffles so column tasks spread evenly
    // even when a few files dominate the column count
    val tasks = spark
      .createDataset(paths.zipWithIndex.map { case (p, i) => (i.toLong, p) })
      .repartition(parallelism)
      .flatMap { case (fi, path) =>
        val reader = open(path)
        try {
          val n = reader.getFooter.getFileMetaData.getSchema.getColumns.size()
          (0 until n).map(ci => (fi, path, ci)).toVector
        } finally reader.close()
      }
    tasks
      // full cluster width for the chunking stage: column tasks usually
      // outnumber files, and empty partitions cost nothing next to the scan
      .repartition(spark.sparkContext.defaultParallelism)
      .flatMap { case (fileIdx, path, colIdx) =>
        // the column ORDINAL from the enumeration stage identifies the leaf
        // (footer column order is deterministic for a given file), so the
        // chunking task skips the name-based footer re-scan
        chunkOneColumn(path, colIdx, params).map { c =>
          ChunkRow(fileIdx, (colIdx.toLong << ColIdxShift) | c.index,
            c.hash, c.size.toLong, c.compressed.toLong)
        }
      }
  }

  private def open(path: String): org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.conf.Configuration()))

  /** Stream one column's page payloads (dictionary page first per row
    * group, then data pages, row groups in order) through the chunker.
    */
  private def chunkOneColumn(
      path: String,
      colIdx: Int,
      params: ChunkerParams): Iterator[ScannedChunk] = {
    import org.apache.parquet.column.page.{DataPage, DataPageV1, DataPageV2}
    val reader = open(path)
    val schema = reader.getFooter.getFileMetaData.getSchema
    val cd = schema.getColumns.get(colIdx)
    // project to the column's top-level field: parquet then reads only that
    // subtree's bytes (sibling leaves of a shared struct are the only waste)
    reader.setRequestedSchema(new org.apache.parquet.schema.MessageType(
      schema.getName, schema.getType(Seq(cd.getPath()(0)): _*)))

    def pageBytes(p: DataPage): Array[Byte] = p.accept(
      new DataPage.Visitor[Array[Byte]] {
        override def visit(v1: DataPageV1): Array[Byte] = v1.getBytes.toByteArray
        override def visit(v2: DataPageV2): Array[Byte] =
          org.apache.parquet.bytes.BytesInput.concat(
            v2.getRepetitionLevels, v2.getDefinitionLevels, v2.getData).toByteArray
      })

    // the reader must close on EVERY exit path: exhaustion (the common
    // case), an exception mid-chunking, and a consumer that stops early
    // (task kill / limit) — the last via the task-completion listener,
    // Spark's idiom for non-closeable iterator resources in executors
    var closed = false
    def closeOnce(): Unit = if (!closed) {
      closed = true
      try reader.close()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))

    // lazy payload stream across row groups
    val payloads: Iterator[Array[Byte]] =
      Iterator
        .continually(reader.readNextRowGroup())
        .takeWhile(_ != null)
        .flatMap { store =>
          val pr = store.getPageReader(cd)
          val dict = Option(pr.readDictionaryPage()).map(_.getBytes.toByteArray)
          dict.iterator ++
            Iterator.continually(pr.readPage()).takeWhile(_ != null).map(pageBytes)
        }
    val en = new java.util.Enumeration[java.io.InputStream] {
      override def hasMoreElements: Boolean = {
        val h = payloads.hasNext
        if (!h) closeOnce()
        h
      }
      override def nextElement(): java.io.InputStream =
        new java.io.ByteArrayInputStream(payloads.next())
    }
    val chunks = new ChunkScan(new java.io.SequenceInputStream(en), IndexedSeq(params),
      params.readBufSize).stats(IndexedSeq(true))
    new Iterator[ScannedChunk] {
      override def hasNext: Boolean =
        try chunks.hasNext
        catch { case t: Throwable => closeOnce(); throw t }
      override def next(): ScannedChunk =
        try chunks.next()
        catch { case t: Throwable => closeOnce(); throw t }
    }
  }
}
