package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, FSDataOutputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager for the streaming harnesses: `file:`
  * checkpoints create their directories and temp files through
  * `java.nio`, everything else is Spark's default manager unchanged.
  *
  * Why: without libhadoop, Hadoop's local filesystem forks a `chmod`
  * for every permission it sets (each created directory, each checkpoint
  * file and its `.crc`), and `FileContext.rename` forks `readlink` twice
  * per rename. A stream_cdc run paid ~230 such subprocesses per query,
  * ~160 of them inside the per-partition state-store commits.
  *
  * Writes stay atomic: a temp file in the destination's directory, then
  * a rename (`cancel` deletes the temp). A destination that must not be
  * overwritten is refused by [[FileSystemBasedCheckpointFileManager]]'s
  * rules; one that may be is replaced, as under the default manager.
  * The files are byte-identical to the default manager's; only the `.crc`
  * sidecars are not written (the checksummed local filesystem reads a
  * file without one unverified, and an overwrite drops a stale sidecar),
  * and permissions follow the process umask rather than
  * `fs.permissions.umask-mode`. Spark's checkpoint-checksum wrapper still
  * wraps this manager.
  *
  * Selected per session with `spark.sql.streaming.checkpointFileManagerClass`
  * ([[ConfKey]]); Spark instantiates it through the (Path, Configuration)
  * constructor.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val underlying: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).getUri.getScheme == "file")
      new LocalCheckpointFileManager.Nio(path, hadoopConf)
    else {
      // Spark's own choice for this path, as if no manager were configured
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Select this manager for every stream `session` starts. */
  def use(session: org.apache.spark.sql.SparkSession): Unit =
    session.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  /** The `file:` half: the parent's `FileSystem` lists, opens and
    * deletes (none of which sets a permission); directories, temp files
    * and overwriting renames go through `java.nio`.
    */
  private[streaming] final class Nio(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

    private def local(p: Path): java.nio.file.Path =
      java.nio.file.Paths.get(fs.makeQualified(p).toUri)

    override def mkdirs(p: Path): Unit = { Files.createDirectories(local(p)); () }

    // overwrites, like the parent's `fs.create(path, true)`
    override def createTempFile(p: Path): FSDataOutputStream = {
      val f = local(p)
      Files.createDirectories(f.getParent)
      new FSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(f), 64 << 10),
        null: FileSystem.Statistics)
    }

    // The local FileSystem's rename refuses an existing destination, which
    // the parent reads as "overwrite not possible": it would keep the old
    // file and leave the temp behind. rename(2) replaces it atomically, as
    // the default manager's FileContext rename does. A stale `.crc` goes
    // first, so a crash in between leaves old bytes unverified, never a
    // checksum mismatch.
    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
      if (!overwriteIfPossible) super.renameTempFile(src, dst, overwriteIfPossible)
      else {
        val to = local(dst)
        Files.deleteIfExists(to.resolveSibling(s".${to.getFileName}.crc"))
        Files.move(local(src), to, StandardCopyOption.ATOMIC_MOVE)
        ()
      }

    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(path)
      mkdirs(qualified)
      qualified
    }
  }
}
