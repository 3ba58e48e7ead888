package graft.util

import java.io.{ByteArrayOutputStream, FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, CommitLog, CommitMetadata}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.TempDirs.withTempDir

/** The java.nio write path of [[LocalCheckpointFileManager]]: atomic
  * overwrite, no-clobber, cancel, Hadoop sidecar cleanup, the non-local
  * fallback, and what a reader sees after a crash at each step. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  /** Read through Hadoop's checksummed local filesystem, which verifies a
    * `.crc` sidecar when one exists. */
  private def hadoopRead(p: Path): String = {
    val in = FileSystem.getLocal(conf).open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Write `s` at `p` the way Hadoop does, `.crc` sidecar included. */
  private def hadoopWrite(p: Path, s: String): Unit = {
    val out = FileSystem.getLocal(conf).create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def hpath(f: JPath) = new Path(f.toUri)

  test("overwrite replaces the file atomically: the old bytes stay readable until close") {
    withTempDir("graft-lcfm") { dir =>
      val p = hpath(dir.resolve("0"))
      val fm = new LocalCheckpointFileManager(hpath(dir), conf)
      write(fm, p, "old", overwrite = true)
      val out = fm.createAtomic(p, overwriteIfPossible = true)
      out.write("new-and-longer".getBytes(UTF_8))
      out.flush()
      assert(hadoopRead(p) == "old")
      out.close()
      assert(hadoopRead(p) == "new-and-longer")
      assert(names(dir) == Set("0"))
    }
  }

  test("no-clobber: an existing target raises Hadoop's FileAlreadyExistsException and keeps its bytes") {
    withTempDir("graft-lcfm") { dir =>
      val p = hpath(dir.resolve("0"))
      val fm = new LocalCheckpointFileManager(hpath(dir), conf)
      write(fm, p, "first", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
      assert(hadoopRead(p) == "first")
      assert(names(dir) == Set("0"))
    }
  }

  test("cancel() leaves no temp file and no target") {
    withTempDir("graft-lcfm") { dir =>
      val fm = new LocalCheckpointFileManager(hpath(dir), conf)
      val out = fm.createAtomic(hpath(dir.resolve("0")), overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(names(dir).isEmpty)
    }
  }

  test("a stale Hadoop .crc sidecar is gone after overwrite and after delete") {
    withTempDir("graft-lcfm") { dir =>
      val p = hpath(dir.resolve("1.changelog"))
      val crc = dir.resolve(".1.changelog.crc")
      val fm = new LocalCheckpointFileManager(hpath(dir), conf)
      hadoopWrite(p, "written by Hadoop")
      assert(Files.exists(crc))
      write(fm, p, "rewritten", overwrite = true)
      assert(!Files.exists(crc))
      assert(hadoopRead(p) == "rewritten") // no checksum mismatch
      hadoopWrite(p, "again by Hadoop")
      fm.delete(p)
      assert(names(dir).isEmpty)
      fm.delete(p) // a missing file is not an error
    }
  }

  test("mkdirs creates nested directories, and a write creates its missing parent") {
    withTempDir("graft-lcfm") { dir =>
      val fm = new LocalCheckpointFileManager(hpath(dir), conf)
      fm.mkdirs(hpath(dir.resolve("state/0/1")))
      assert(Files.isDirectory(dir.resolve("state/0/1")))
      write(fm, hpath(dir.resolve("offsets/0")), "v1", overwrite = false)
      assert(names(dir.resolve("offsets")) == Set("0"))
    }
  }

  test("a non-local path reaches Spark's Hadoop write path") {
    val hconf = new Configuration()
    hconf.set("fs.hdfs.impl", classOf[RecordingFs].getName)
    hconf.setBoolean("fs.hdfs.impl.disable.cache", true)
    RecordingFs.calls.clear()
    val fm = new LocalCheckpointFileManager(new Path("hdfs://nn/ck"), hconf)
    fm.mkdirs(new Path("hdfs://nn/ck/commits"))
    write(fm, new Path("hdfs://nn/ck/commits/0"), "v1", overwrite = false)
    fm.delete(new Path("hdfs://nn/ck/commits/0"))
    val calls = RecordingFs.calls.asScala.toList
    assert(calls.head == "mkdirs /ck/commits")
    assert(calls(1).matches("create /ck/commits/\\.0\\..*\\.tmp"), calls)
    assert(calls.contains(s"rename ${calls(1).stripPrefix("create ")} /ck/commits/0"), calls)
    assert(calls.last == "delete /ck/commits/0")
    assert(!Files.exists(java.nio.file.Paths.get("/ck")))
  }

  /** Throws at one step of the write path, the way a crash would stop it. */
  private class Crashing(root: Path, at: String) extends LocalCheckpointFileManager(root, conf) {
    override protected def publish(s: JPath, d: JPath, overwrite: Boolean): Boolean = {
      if (at == "after temp write") throw new IOException(at)
      val done = super.publish(s, d, overwrite)
      if (at == "after rename") throw new IOException(at)
      done
    }
    override protected def syncDir(dir: JPath): Unit =
      if (at == "before dir fsync") throw new IOException(at) else super.syncDir(dir)
  }

  private val crashPoints = Seq("after temp write", "after rename", "before dir fsync")

  test("crash points, overwrite: a reader sees the old file or the new one, never a partial one") {
    for (at <- crashPoints) withTempDir("graft-lcfm") { dir =>
      val p = hpath(dir.resolve("2.changelog"))
      hadoopWrite(p, "old")
      val fm = new Crashing(hpath(dir), at)
      intercept[IOException](write(fm, p, "new", overwrite = true))
      val seen = hadoopRead(p)
      assert(if (at == "after temp write") seen == "old" else seen == "new", at)
    }
  }

  test("crash points, commit log: the last batch is whole or absent, and no .tmp file counts as a batch") {
    lazy val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    for (at <- crashPoints) withTempDir("graft-lcfm") { dir =>
      val commits = dir.resolve("commits").toString
      val log = new CommitLog(spark, commits) // Spark's default manager reads
      assert(log.add(0L, CommitMetadata(0L, None)))
      val fm = new Crashing(hpath(dir), at)
      val out = fm.createAtomic(new Path(commits, "1"), overwriteIfPossible = false)
      out.write(s"v1\n${CommitMetadata(7L, None).json}".getBytes(UTF_8)) // CommitLog's format
      intercept[IOException](out.close())
      val reader = new CommitLog(spark, commits)
      if (at == "after temp write") {
        assert(names(dir.resolve("commits")).exists(_.endsWith(".tmp")), at)
        assert(reader.get(None, None).map(_._1).toSeq == Seq(0L), at)
      } else {
        assert(reader.get(None, None).map(_._1).toSeq == Seq(0L, 1L), at)
        assert(reader.get(1L).map(_.nextBatchWatermarkMs).contains(7L), at)
      }
    }
  }
}

/** A stand-in `hdfs:` filesystem that records the write calls it gets. */
class RecordingFs extends FileSystem {
  private def rec(s: String): Unit = RecordingFs.calls.add(s)
  override def getUri: URI = URI.create("hdfs://nn")
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    throw new FileNotFoundException(f.toString)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    rec(s"create ${f.toUri.getPath}")
    new FSDataOutputStream(new ByteArrayOutputStream(), null)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException
  override def rename(src: Path, dst: Path): Boolean = {
    rec(s"rename ${src.toUri.getPath} ${dst.toUri.getPath}"); true
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    rec(s"delete ${f.toUri.getPath}"); true
  }
  override def listStatus(f: Path): Array[FileStatus] = Array.empty
  override def setWorkingDirectory(dir: Path): Unit = ()
  override def getWorkingDirectory: Path = new Path("hdfs://nn/")
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    rec(s"mkdirs ${f.toUri.getPath}"); true
  }
  override def getFileStatus(f: Path): FileStatus = throw new FileNotFoundException(f.toString)
}

object RecordingFs {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
