package graft.util

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Shared filesystem helpers — one spelling of recursive delete and of
  * directory fsync instead of one per call site
  * ([[graft.sources.TransactionalParquetSink]] vacuum, Verify's bad-dump
  * removal, [[graft.state.DiskBackingMap]] and [[LocalCheckpointFileManager]]
  * renames). */
object Fs {
  /** Depth-first delete; tolerates concurrent removal (deleteIfExists). */
  def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  /** Fsync a directory, so the renames in it survive a power loss. */
  def syncDir(dir: Path): Unit = {
    val ch = FileChannel.open(dir, StandardOpenOption.READ)
    try ch.force(true) finally ch.close()
  }
}
