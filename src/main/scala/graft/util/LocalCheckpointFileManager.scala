package graft.util

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.channels.FileChannel
import java.nio.file.{FileSystemException, Files, StandardCopyOption, StandardOpenOption, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Structured Streaming checkpoint writes on the local filesystem without
  * launching processes.
  *
  * Without Hadoop's native library, every file Spark's default manager
  * writes on a `file:` path starts about 10 child processes (`chmod` for
  * the file and its `.crc` sidecar, `readlink` from `FileContext.rename`),
  * and a trigger writes about 10 such files: the offset and commit log
  * entries plus each state partition's RocksDB changelog and its checksum.
  * This manager writes those files through java.nio instead:
  *
  *  1. the temp file (in the target's directory) is written and fsynced;
  *  2. the target's stale Hadoop `.crc` sidecar is deleted, so a Hadoop
  *     reader never checks the new bytes against the old checksum;
  *  3. the temp file is published: an `ATOMIC_MOVE` rename when overwriting
  *     is allowed, else a hard link, which fails atomically if the target
  *     exists (mapped to Hadoop's `FileAlreadyExistsException`, the type
  *     `HDFSMetadataLog` reads as a concurrent writer);
  *  4. the directory is fsynced, so the rename survives a crash.
  *
  * A reader sees the old file or the new one, never a partial one. Reads
  * (`open`, `list`, `exists`) and every non-local scheme (hdfs, s3a, ...)
  * stay on Spark's [[FileSystemBasedCheckpointFileManager]], and so does the
  * publish step on filesystems without hard links. Files written here carry
  * no Hadoop sidecar; Spark's own checkpoint checksums (`.changelog.crc`,
  * `.zip.crc`) are written as before. Install with [[LocalCheckpointFileManager.scoped]]. */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {
  import LocalCheckpointFileManager._

  private val onLocalFs = isLocal

  /** The local file behind `p`; None when `p` is not on the local filesystem. */
  private def local(p: Path): Option[JPath] =
    if (onLocalFs && Option(p.toUri.getScheme).forall(_ == "file"))
      Some(new java.io.File(fs.makeQualified(p).toUri.getPath).toPath)
    else None

  override def createTempFile(p: Path): FSDataOutputStream = local(p) match {
    case Some(f) =>
      Files.createDirectories(f.getParent)
      new FSDataOutputStream(new SyncOnClose(new FileOutputStream(f.toFile)), null)
    case None => super.createTempFile(p)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(s), Some(d)) =>
        if (!overwriteIfPossible && Files.exists(d)) alreadyExists(s, d)
        Files.deleteIfExists(crcOf(d))
        if (publish(s, d, overwriteIfPossible)) syncDir(d.getParent)
        else super.renameTempFile(src, dst, overwriteIfPossible)
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }

  /** Make the synced temp file `s` visible as `d`. False when the local
    * filesystem cannot link, so the caller falls back to Hadoop's rename. */
  protected def publish(s: JPath, d: JPath, overwrite: Boolean): Boolean =
    if (overwrite) { Files.move(s, d, StandardCopyOption.ATOMIC_MOVE); true }
    else {
      try Files.createLink(d, s)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => alreadyExists(s, d)
        case _: UnsupportedOperationException | _: FileSystemException => return false
      }
      Files.delete(s)
      true
    }

  protected def syncDir(dir: JPath): Unit = {
    val ch = FileChannel.open(dir, StandardOpenOption.READ)
    try ch.force(true) finally ch.close()
  }

  override def mkdirs(p: Path): Unit = local(p) match {
    case Some(d) => Files.createDirectories(d)
    case None => super.mkdirs(p)
  }

  override def delete(p: Path): Unit = local(p) match {
    case Some(f) => Fs.deleteRecursively(f); Files.deleteIfExists(crcOf(f))
    case None => super.delete(p)
  }
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Run `start`, which must start a checkpointed streaming query, with
    * this class as the session's checkpoint file manager; the previous
    * setting is restored after. A query reads the conf when it starts and
    * keeps it until it stops. */
  def scoped[A](spark: SparkSession)(start: => A): A =
    SessionConf.scoped(spark, ConfKey -> classOf[LocalCheckpointFileManager].getName)(start)

  /** Hadoop's checksum sidecar of `f`: `.name.crc` beside it. */
  private def crcOf(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")

  /** Drop the temp file and fail as Hadoop does for an existing target. */
  private def alreadyExists(tmp: JPath, dst: JPath): Nothing = {
    Files.deleteIfExists(tmp)
    throw new FileAlreadyExistsException(s"$dst already exists")
  }

  /** Buffered file output that fsyncs the file when closed, before the
    * rename publishes it. */
  private final class SyncOnClose(file: FileOutputStream)
      extends BufferedOutputStream(file, 1 << 16) {
    private var closed = false
    override def close(): Unit = if (!closed) {
      closed = true
      try { flush(); file.getFD.sync() } finally file.close()
    }
  }
}
