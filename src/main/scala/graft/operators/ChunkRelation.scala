package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.cdc.{ChunkIterator, ChunkScan, ChunkerParams, Lz4Len, XXH64}

/** One row per chunk occurrence — the engine's core relation (SURVEY §1.1):
  * `(file_idx, chunk_idx, hash, size, compressed)`, optionally `data`.
  * `seen_in` / `first_seen_in` are derived by aggregation (Estimator), not
  * stored — the reference's per-file HashMap accumulate (src/store.rs:43-63)
  * collapses into this occurrence stream plus a groupBy.
  */
final case class ChunkRow(
    file_idx: Long,
    chunk_idx: Long,
    hash: Long,
    size: Long,
    compressed: Long)

final case class ChunkRowWithData(
    file_idx: Long,
    chunk_idx: Long,
    hash: Long,
    size: Long,
    compressed: Long,
    data: Array[Byte])

/** 128-bit chunk identity (two independent-seed xxh64 values) for the
  * 1e9+-chunk regime where 64-bit birthday collisions become material
  * (~0.4% at 100 TB / 64 KiB chunks — SURVEY §7.4-5). Dedup keys on
  * (hash, hash2); collision odds drop to ~2^-128 scale.
  */
final case class ChunkRow128(
    file_idx: Long,
    chunk_idx: Long,
    hash: Long,
    hash2: Long,
    size: Long,
    compressed: Long)

/** A chunk row tagged with the index of the chunker config that cut it —
  * the multi-config relation `Estimator.estimate` aggregates.
  */
final case class ConfigChunkRow(
    config: Int,
    file_idx: Long,
    chunk_idx: Long,
    hash: Long,
    size: Long,
    compressed: Long)

/** An input file: its index in the caller's path list and its length. */
final case class SizedFile(idx: Long, path: String, len: Long)

object ChunkRelation {

  /** Files at or above this size go through DistributedChunker in
    * `chunkFilesAuto` and `Estimator.estimate`.
    */
  val LargeFileThreshold: Long = 1L << 30

  /** Index and size `paths` with one batched listing (`Conf.fileLengths`). */
  private[graft] def sizeFiles(paths: Seq[String]): Seq[SizedFile] =
    paths.lazyZip(graft.Conf.fileLengths(paths)).lazyZip(paths.indices)
      .map((p, len, i) => SizedFile(i.toLong, p, len))

  /** Chunk a list of files into the occurrence relation.
    *
    * Scale design: the files are spread over `min(files,
    * defaultParallelism)` partitions by bytes (largest file first, to the
    * least-loaded partition), fixed when the dataset is created, so there
    * is no exchange before the chunk stage. Each task streams its files
    * through `ChunkScan` with bounded memory (read buffer + maxLen), so
    * >2 GB files are fine — no `binaryFile` whole-file materialization.
    * Hash + lz4-length are computed in place on the scan window, so raw
    * chunk bytes never enter Tungsten rows (`chunkFilesWithData` keeps
    * them on request — the reference's `store_data` flag, src/store.rs:30).
    *
    * Hadoop FileSystem API is used for the open, so the same code reads
    * local paths in tests and HDFS/S3 paths on a cluster.
    */
  def chunkFiles(
      spark: SparkSession,
      paths: Seq[String],
      params: ChunkerParams = ChunkerParams.Default): Dataset[ChunkRow] =
    singleConfig(chunkConfigs(spark, sizeFiles(paths), Seq(params), Seq(true), Long.MaxValue))

  /** Scale-aware chunking: files at or above `largeFileThreshold` go
    * through the split-parallel DistributedChunker (intra-file
    * parallelism), the rest through the streaming per-file path.
    * Output is identical either way (DistributedChunkerSpec proves
    * byte-identity), so this is purely a scheduling decision.
    */
  def chunkFilesAuto(
      spark: SparkSession,
      paths: Seq[String],
      params: ChunkerParams = ChunkerParams.Default,
      largeFileThreshold: Long = LargeFileThreshold): Dataset[ChunkRow] =
    singleConfig(chunkConfigs(spark, sizeFiles(paths), Seq(params), Seq(true), largeFileThreshold))

  private def singleConfig(rows: Dataset[ConfigChunkRow]): Dataset[ChunkRow] =
    rows.drop("config").as[ChunkRow](org.apache.spark.sql.Encoders.product[ChunkRow])

  /** The per-file chunk routine: every file read ONCE and chunked under
    * every config in `configs` (row `config` = index into `configs`).
    * The LZ4 size is computed only for configs with `lz4(config)` and is 0
    * for the others. Files at or above `largeFileThreshold` go through
    * DistributedChunker, once per config.
    */
  private[graft] def chunkConfigs(
      spark: SparkSession,
      files: Seq[SizedFile],
      configs: Seq[ChunkerParams],
      lz4: Seq[Boolean],
      largeFileThreshold: Long): Dataset[ConfigChunkRow] = {
    import spark.implicits._
    val cfgs = configs.toIndexedSeq
    val withLz4 = lz4.toIndexedSeq
    require(withLz4.size == cfgs.size, s"${withLz4.size} lz4 flags for ${cfgs.size} configs")
    val bufSize = cfgs.map(_.readBufSize).max
    val (large, small) = files.partition(_.len >= largeFileThreshold)
    val streamed = perFile(spark, small) { f =>
      new ChunkScan(open(f.path), cfgs, bufSize).stats(withLz4).map { c =>
        ConfigChunkRow(c.config, f.idx, c.index, c.hash, c.size.toLong, c.compressed.toLong)
      }
    }
    val split = for (f <- large; (p, c) <- cfgs.zipWithIndex) yield
      DistributedChunker.chunkLargeFile(spark, f.path, fileIdx = f.idx, p)
        .select(lit(c).as("config"), col("file_idx"), col("chunk_idx"), col("hash"),
          col("size"), (if (withLz4(c)) col("compressed") else lit(0L)).as("compressed"))
        .as[ConfigChunkRow]
    (streamed +: split).reduce(_ unionAll _)
  }

  /** 128-bit-identity variant of `chunkFiles` — the 100 TB configuration. */
  def chunkFiles128(
      spark: SparkSession,
      paths: Seq[String],
      params: ChunkerParams = ChunkerParams.Default): Dataset[ChunkRow128] = {
    import spark.implicits._
    perFile(spark, sizeFiles(paths)) { f =>
      val scan = new ChunkScan(open(f.path), IndexedSeq(params), params.readBufSize)
      Iterator.continually(scan.advance()).takeWhile(identity).map { _ =>
        val (w, off, len) = (scan.window, scan.offset, scan.length)
        ChunkRow128(f.idx, scan.index,
          XXH64.hash(w, off, len, XXH64.DefaultSeed),
          XXH64.hash(w, off, len, 0x5ECD5EED5ECD5EEDL), // independent second seed
          len.toLong, Lz4Len(w, off, len).toLong)
      }
    }
  }

  /** As `chunkFiles` but retaining chunk payloads (reference `store_data`). */
  def chunkFilesWithData(
      spark: SparkSession,
      paths: Seq[String],
      params: ChunkerParams = ChunkerParams.Default): Dataset[ChunkRowWithData] = {
    import spark.implicits._
    perFile(spark, sizeFiles(paths)) { f =>
      new ChunkIterator(open(f.path), params, params.readBufSize).zipWithIndex.map {
        case (bytes, ci) =>
          ChunkRowWithData(f.idx, ci.toLong, XXH64.hash(bytes, XXH64.DefaultSeed),
            bytes.length.toLong, Lz4Len(bytes).toLong, bytes)
      }
    }
  }

  /** `f` over every file, the files spread over `min(files,
    * defaultParallelism)` partitions by bytes — longest-processing-time
    * greedy: largest file first, to the least-loaded partition — and
    * partitioned when the dataset is created, with no exchange.
    */
  private def perFile[T: Encoder](spark: SparkSession, files: Seq[SizedFile])(
      f: SizedFile => Iterator[T]): Dataset[T] = {
    val bins = balance(files, spark.sparkContext.defaultParallelism)
    implicit val tag: scala.reflect.ClassTag[T] = implicitly[Encoder[T]].clsTag
    spark.createDataset(
      spark.sparkContext.parallelize(bins, math.max(1, bins.size)).flatMap(_.iterator.flatMap(f)))
  }

  /** Byte-balanced bins of `files` (at most `parts`, none empty), each in
    * file order.
    */
  private[operators] def balance(files: Seq[SizedFile], parts: Int): Seq[Seq[SizedFile]] = {
    val n = math.min(files.size, parts)
    val bins = Array.fill(n)(Vector.newBuilder[SizedFile])
    val load = scala.collection.mutable.PriorityQueue
      .tabulate(n)(b => (0L, b))(Ordering[(Long, Int)].reverse)
    files.sortBy(f => (-f.len, f.idx)).foreach { f =>
      val (bytes, b) = load.dequeue()
      bins(b) += f
      load.enqueue((bytes + f.len, b))
    }
    bins.toSeq.map(_.result().sortBy(_.idx))
  }

  /** Chunk an arbitrary binary column (one row in → N chunk rows out): the
    * generator-shaped surface (SURVEY §2.2) for payloads already inside a
    * DataFrame, e.g. document text bytes or multimodal blobs.
    * Input must have columns (id LONG, content BINARY).
    */
  def chunkColumn(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      params: ChunkerParams = ChunkerParams.Default): Dataset[ChunkRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(idCol, contentCol)
      .as[(Long, Array[Byte])]
      .flatMap { case (id, content) =>
        val bytes = if (content == null) Array.emptyByteArray else content
        graft.cdc.Chunker.chunkStats(bytes, params).zipWithIndex.map {
          case ((hash, size, compressed), ci) =>
            ChunkRow(id, ci.toLong, hash, size.toLong, compressed.toLong)
        }
      }
  }

  private def open(path: String): java.io.InputStream = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    hPath.getFileSystem(new org.apache.hadoop.conf.Configuration()).open(hPath)
  }
}
