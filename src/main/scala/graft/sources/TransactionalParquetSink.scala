package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable exactly-once FILE sink: manifest-committed parquet batches —
  * the disk tier of sink parity, as [[graft.state.DiskBackingMap]] is to
  * `MemoryBackingMap` on the state side and [[KvStoreSink]] is on the
  * in-memory sink side.
  *
  * Reference contract: a Trident state sink commits each batch exactly
  * once under its txid and recognizes a replayed txid
  * (`ICommitterTridentSpout.java:24-39`; `TransactionalMap.java:40-95`
  * skip-if-committed). Spark's own streaming file sink solves the same
  * problem with a per-batch file manifest (`FileStreamSink` +
  * `ManifestFileCommitProtocol`): data files land under temporary names,
  * and an atomically-renamed manifest naming the batch's files IS the
  * commit point — readers only trust manifested files, so a crashed or
  * replayed attempt can strand orphan data files but never duplicate rows.
  * This sink applies that design standalone (driveable from foreachBatch
  * or `applyBatch`-style replay tests, no streaming query required):
  *
  *  - data: `dir/batch-<id>-<uuid>/part-*.parquet` — one attempt directory
  *    per write, written by a normal distributed `df.write.parquet` (the
  *    executors do the IO; nothing collects to the driver).
  *  - commit: `dir/_manifest/<id>` (attempt dir name inside), written to a
  *    temp name then ATOMIC_MOVE'd — the rename is the all-or-nothing
  *    commit, exactly like the WAL segment rename in `DiskBackingMap`.
  *  - replay: a manifest for `batchId` already present → the write is
  *    skipped (the reference's skip-if-committed tier). The replayed
  *    attempt's directory is never created.
  *  - read: union of exactly the manifested attempt directories; orphan
  *    attempt dirs from crashed writes are invisible (and reaped by
  *    [[vacuum]]).
  *
  * Scale shape: one manifest rename per BATCH (not per file or per
  * partition), so commit cost is O(1) regardless of batch width; the data
  * write itself is Spark's parallel parquet path. On object storage the
  * ATOMIC_MOVE becomes the store's rename/put-if-absent — same contract
  * Spark's own manifest protocol assumes.
  */
object TransactionalParquetSink {

  private def manifestDir(dir: String): Path = Paths.get(dir, "_manifest")

  /** Write `batch` under `batchId`. Returns true if this call committed,
    * false if the batchId was already committed (replay — skipped without
    * reading or writing any data). */
  def writeBatch(batch: DataFrame, batchId: Long, dir: String): Boolean = {
    val mdir = manifestDir(dir)
    Files.createDirectories(mdir)
    val manifest = mdir.resolve(batchId.toString)
    if (Files.exists(manifest)) return false // replayed txid: skip-if-committed
    val attempt = s"batch-$batchId-${java.util.UUID.randomUUID()}"
    batch.write.parquet(Paths.get(dir, attempt).toString)
    val tmp = mdir.resolve(s".tmp-$attempt")
    Files.write(tmp, attempt.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    try {
      // put-if-absent, not rename: POSIX rename(2) silently REPLACES an
      // existing target, so a lost TOCTOU race would overwrite the winning
      // manifest and orphan its committed data. A hard link to an existing
      // name fails atomically with FileAlreadyExistsException — the
      // put-if-absent primitive this commit needs (object stores expose
      // the same contract as a conditional put).
      Files.createLink(manifest, tmp)
      Files.deleteIfExists(tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        // a concurrent attempt committed first: drop our tmp AND our
        // attempt directory (don't wait for vacuum), report not-committed
        Files.deleteIfExists(tmp)
        graft.util.Fs.deleteRecursively(Paths.get(dir, attempt))
        false
      case _: UnsupportedOperationException =>
        // filesystem without hard links: ATOMIC_MOVE is the best
        // available primitive, but POSIX rename silently REPLACES an
        // existing target — a lost race would overwrite the winner's
        // manifest with ours while both callers believe they committed.
        // Re-reading the manifest after the move NARROWS that window but
        // cannot close it: the interleaving move(A) read(A) move(B)
        // read(B) still has both callers observe themselves as winner
        // (only an atomic put-if-absent primitive — hard link above, or
        // an object store's conditional put — closes it). Deployments
        // that need the full guarantee must provide one of those; this
        // fallback is best-effort for link-less local filesystems.
        // On detected loss we do NOT delete our attempt dir here: a
        // reader that listed the manifest during our transient-win
        // window may hold our attempt name mid-scan — vacuum() reclaims
        // the orphan after its age threshold instead.
        Files.move(tmp, manifest, StandardCopyOption.ATOMIC_MOVE)
        val winner =
          new String(Files.readAllBytes(manifest), StandardCharsets.UTF_8).trim
        winner == attempt
    }
  }

  /** The committed table: exactly the manifested batches, whatever orphan
    * attempt directories crashed writes left behind.
    *
    * PRECONDITION (no-schema overload): at least one committed batch —
    * parquet cannot infer a schema from zero files. A consumer that may
    * poll before the first commit should either check
    * [[committedBatchIds]] first or pass `emptySchema` to get an empty
    * table for the not-yet-committed state. */
  def read(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, emptySchema = None)

  def read(spark: SparkSession, dir: String,
           emptySchema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val dirs = committedAttempts(dir).map(a => Paths.get(dir, a).toString)
    if (dirs.isEmpty) emptySchema match {
      case Some(schema) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case None => throw new IllegalStateException(
        s"no committed batches under $dir (check committedBatchIds, or pass emptySchema)")
    } else spark.read.parquet(dirs: _*)
  }

  def committedBatchIds(dir: String): Seq[Long] = {
    val mdir = manifestDir(dir)
    if (!Files.isDirectory(mdir)) return Seq.empty
    listDir(mdir)(_.filter(p => p.getFileName.toString.forall(_.isDigit))
      .map(_.getFileName.toString.toLong).toSeq.sorted)
  }

  private def committedAttempts(dir: String): Seq[String] = {
    val mdir = manifestDir(dir)
    if (!Files.isDirectory(mdir)) return Seq.empty
    listDir(mdir)(_.filter(p => p.getFileName.toString.forall(_.isDigit))
      .map(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
      .toSeq.sorted)
  }

  /** Delete attempt directories no manifest points to (failed or lost-race
    * writes). Committed data is never touched — manifests are the source
    * of truth — but an attempt directory of an IN-FLIGHT write also has no
    * manifest yet, so reaping is restricted to directories untouched for
    * `olderThanMs` (default 1 h, the same retention-window discipline as
    * any manifest-table VACUUM). Pass 0 only when no writer can be live.
    * Returns the number of orphan directories removed. */
  def vacuum(dir: String, olderThanMs: Long = 3600000L): Int = {
    val committed = committedAttempts(dir).toSet
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return 0
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphans = listDir(root)(_.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("batch-") && !committed.contains(n) &&
        Files.getLastModifiedTime(p).toMillis <= cutoff
    }.toSeq)
    orphans.foreach(graft.util.Fs.deleteRecursively)
    orphans.size
  }

  private def listDir[A](p: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(p)
    try f(s.iterator().asScala) finally s.close()
  }
}
