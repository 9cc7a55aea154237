package graft.streaming

import graft.SparkSpec
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** A `file:` scheme that is not `file:` — the stand-in for a remote
  * checkpoint store in the manager-selection test (never read through).
  */
class NonLocalTestFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftremote:///")
  override def getScheme: String = "graftremote"
}

/** [[LocalCheckpointFileManager]]: the atomic-write contract Spark's
  * checkpoint logs and state stores rely on, the same checkpoint on disk
  * as the default manager (a query moves between the two mid-stream),
  * and no forked subprocess for checkpoint I/O.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def manager(root: java.nio.file.Path) =
    new LocalCheckpointFileManager(new Path(root.toUri), new Configuration())

  private def entries(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  test("the destination appears only on close, through the local half") {
    val root = Files.createTempDirectory("lcfm-close")
    val fm = manager(root)
    val dst = new Path(root.toUri.toString + "/a/b/offsets/0")
    val out = fm.createAtomic(dst, overwriteIfPossible = false)
    out.write("v1\n{}".getBytes(UTF_8))
    assert(!fm.exists(dst), "destination visible before close")
    out.close()
    assert(fm.exists(dst))
    assert(Files.readString(root.resolve("a/b/offsets/0")) == "v1\n{}")
    // only the destination is left: no temp file, no .crc sidecar
    assert(entries(root.resolve("a/b/offsets")) == Seq("0"))
    assert(fm.isLocal)
  }

  test("cancel leaves neither the temp file nor the destination") {
    val root = Files.createTempDirectory("lcfm-cancel")
    val fm = manager(root)
    val dst = new Path(root.toUri.toString + "/state/1.delta")
    val out = fm.createAtomic(dst, overwriteIfPossible = true)
    out.write(Array[Byte](1, 2, 3))
    out.cancel()
    assert(!fm.exists(dst))
    assert(entries(root.resolve("state")).isEmpty)
  }

  test("overwrite rules: refused without overwriteIfPossible, replaced with it") {
    val root = Files.createTempDirectory("lcfm-overwrite")
    val fm = manager(root)
    val dst = new Path(root.toUri.toString + "/commits/0")
    def write(m: CheckpointFileManager, s: String, overwrite: Boolean): Unit = {
      val out = m.createAtomic(dst, overwrite)
      out.write(s.getBytes(UTF_8))
      out.close()
    }
    def read(): String = {
      val in = fm.open(dst)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    // the default manager leaves a checksum sidecar next to the file
    fm.mkdirs(dst.getParent)
    write(new FileContextBasedCheckpointFileManager(new Path(root.toUri), new Configuration()),
      "first", overwrite = false)
    assert(entries(root.resolve("commits")).contains(".0.crc"))
    intercept[Exception](write(fm, "second", overwrite = false))
    assert(read() == "first")
    write(fm, "third", overwrite = true)
    // read back through the checksummed filesystem: the stale sidecar is gone
    assert(read() == "third")
    assert(!entries(root.resolve("commits")).contains(".0.crc"))
  }

  test("nested mkdirs, list, exists, open and delete round-trip") {
    val root = Files.createTempDirectory("lcfm-roundtrip")
    val fm = manager(root)
    val dir = new Path(root.toUri.toString + "/x/y/z")
    fm.mkdirs(dir)
    fm.mkdirs(dir) // idempotent
    assert(Files.isDirectory(root.resolve("x/y/z")))
    for (i <- 0 until 3) {
      val out = fm.createAtomic(new Path(dir, s"$i"), overwriteIfPossible = false)
      out.write(s"payload $i".getBytes(UTF_8))
      out.close()
    }
    assert(fm.list(dir).map(_.getPath.getName).sorted.toSeq == Seq("0", "1", "2"))
    val in = fm.open(new Path(dir, "1"))
    try assert(new String(in.readAllBytes(), UTF_8) == "payload 1") finally in.close()
    fm.delete(new Path(dir, "1"))
    fm.delete(new Path(dir, "1")) // deleting a missing file is not an error
    assert(!fm.exists(new Path(dir, "1")))
    assert(fm.list(dir).map(_.getPath.getName).sorted.toSeq == Seq("0", "2"))
    val made = fm.createCheckpointDirectory()
    assert(made.toUri.getScheme == "file" && fm.exists(made))
  }

  test("non-file schemes keep Spark's own manager") {
    val conf = new Configuration()
    conf.set("fs.graftremote.impl", classOf[NonLocalTestFileSystem].getName)
    conf.setBoolean("fs.graftremote.impl.disable.cache", true)
    conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val remote = new LocalCheckpointFileManager(new Path("graftremote:///ckpt"), conf)
    // no FileContext binding for the scheme: Spark's own fallback
    assert(remote.underlying.getClass == classOf[FileSystemBasedCheckpointFileManager])
    val local = manager(Files.createTempDirectory("lcfm-scheme"))
    assert(local.underlying.isInstanceOf[LocalCheckpointFileManager.Nio])
  }

  // the stream_cdc state shape: a complete-mode per-hash merge
  private val chunkAgg: DataFrame => DataFrame = df => df
    .select(graft.plans.CdcChunks.cdc_chunks(
      encode(col("text"), "UTF-8"), minLen = 16, maxLen = 256, maskBits = 5))
    .select(col("hash"), col("size"))
    .groupBy(col("hash"))
    .agg(min(col("size")).as("size"), sum(col("size")).as("occ_bytes"))

  private def doc(i: Long): (Long, String) =
    (i, s"shared prefix tokens for everyone " * 4 + s"unique tail $i " * 3)

  /** One drain of `src` into a parquet snapshot from checkpoint `ckpt`,
    * under this manager or Spark's default. State providers are unloaded
    * first so a resumed run reads its state back through its own manager.
    */
  private def drain(src: java.nio.file.Path, ckpt: java.nio.file.Path,
      sink: java.nio.file.Path, local: Boolean): Unit = {
    org.apache.spark.sql.GraftBridge.unloadStateStores()
    val session: SparkSession = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "4")
    if (local) LocalCheckpointFileManager.use(session)
    val schema = session.read.parquet(src.toString).schema
    val q = chunkAgg(session.readStream.schema(schema).parquet(src.toString))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("overwrite").parquet(sink.toString)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  for ((first, second) <- Seq(true -> false, false -> true)) {
    val name = (l: Boolean) => if (l) "this manager" else "Spark's default"
    test(s"a checkpoint started under ${name(first)} resumes under ${name(second)}") {
      import spark.implicits._
      val work = Files.createTempDirectory("lcfm-restart")
      val src = work.resolve("src")
      Files.createDirectories(src)
      writeFlatParquet((0L until 40L).map(doc).toDF("doc_id", "text"), src, "b1.parquet")
      val (ckpt, sink) = (work.resolve("ckpt"), work.resolve("sink"))
      drain(src, ckpt, sink, first)
      // re-uploads of half of b1 plus new docs: the resumed state must merge them
      writeFlatParquet(((40L until 60L).map(doc) ++
        (0L until 20L).map(i => (i + 100L, doc(i)._2))).toDF("doc_id", "text"),
        src, "b2.parquet")
      drain(src, ckpt, sink, second)
      val resumed = spark.read.parquet(sink.toString)

      val (ckpt1, sink1) = (work.resolve("ckpt1"), work.resolve("sink1"))
      drain(src, ckpt1, sink1, local = false)
      val uninterrupted = spark.read.parquet(sink1.toString)
      assert(resumed.count() == uninterrupted.count())
      assert(resumed.exceptAll(uninterrupted).isEmpty)
      assert(uninterrupted.exceptAll(resumed).isEmpty)
      // the resumed run really folded b2 into restored state
      val r = resumed.agg(sum(col("size")), sum(col("occ_bytes"))).head()
      assert(r.getLong(0) < r.getLong(1), "re-uploaded docs not merged")
    }
  }

  test("a local stream run forks no process for checkpoint I/O") {
    import spark.implicits._
    val src = Files.createTempDirectory("lcfm-spawn")
    writeFlatParquet((0L until 8L).map(doc).toDF("doc_id", "text"), src, "docs.parquet")
    val rec = new jdk.jfr.Recording()
    val dump = Files.createTempFile("lcfm-spawn", ".jfr")
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val report = StreamCdc.runEstimateOnce(spark, src.toString, "lcfm_spawn_pin").head()
      rec.stop()
      assert(report.getLong(0) > 0L)
      rec.dump(dump)
      // by stack, not by command: other suites sharing this JVM may fork
      val spawns = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
      val fromCheckpoints = spawns.filter(e => Option(e.getStackTrace).exists(
        _.getFrames.asScala.exists(_.getMethod.getType.getName.contains("CheckpointFileManager"))))
      assert(fromCheckpoints.size == 0,
        s"${fromCheckpoints.size} checkpoint-file subprocesses, first: " +
          fromCheckpoints.headOption.map(_.getString("command")).getOrElse(""))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }
}
