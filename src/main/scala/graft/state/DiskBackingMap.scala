package graft.state

import java.io.BufferedReader
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** The engine's durable `IBackingMap` — what the reference's MapState SPI
  * exists to plug (`state/map/IBackingMap.java:23`: Cassandra/Memcached in
  * practice; here a filesystem store with the same multiGet/multiPut
  * contract), making `partitionPersist`/`persistentAggregate` state survive
  * process restarts. The key universe lives ON DISK in size-tiered sorted
  * runs (a small LSM); the heap holds only
  *
  *  - the memtable (writes since the last flush, capped at
  *    `flushAfterKeys`),
  *  - one sparse index entry per 64 keys per run,
  *  - a per-run Bloom filter (8 bits/key — probes that would miss skip the
  *    disk read), and
  *  - an LRU block cache (2048 parsed blocks of 64 entries) —
  *    the reference's `CachedMap.java:31-70` read-cache discipline in front
  *    of a disk store, fused into the store.
  *
  * Resident memory is O(flushAfterKeys + keys/64) — ~2 bytes/key, 100×
  * under full residency — and per-batch fold cost stays O(touched keys)
  * (drilled at 10⁷–10⁸ keys under a pinned -Xmx: `graft.tools.DiskMapDrill`):
  * the streaming dup-clusters `parents` map keys EVERY id ever seen.
  *
  * Layout under `path`:
  *  - `seg-<seq>-<uuid>.jsonl` — the write-ahead log: one segment per
  *    `multiPut`/`multiRemove` (tab-separated `key\tvalue` JSON pairs),
  *    published BEFORE the memtable mutates; `open()` seeds the sequence
  *    past every segment and every folded sequence, so replay order
  *    survives reboots (one writer per directory).
  *  - `run-<n>.tsv` — sorted `key\tvalue` runs.
  *  - `MANIFEST` — the highest WAL sequence folded into runs, then one
  *    `name\tkeyCount` line per live run, newest first. Runs are visible
  *    only through it.
  *
  * Every file is published the same way: temp write, fsync, atomic
  * rename, directory fsync — so each crash window leaves the old or the new
  * file set, and no acknowledged write is lost. A flush writes the memtable
  * as a new head run, then the MANIFEST (the run and the folded sequence
  * in one atomic replace), then deletes the folded segments; `open()`
  * deletes, never replays, a segment at or below the folded sequence (a
  * lost delete cannot shadow newer values) and sweeps orphan runs. Adjacent
  * runs merge whenever a run reaches half its older neighbor (each run ≥2×
  * the next newer ⟹ ≤ log₂(keys/flushAfterKeys) runs, O(log) write
  * amplification). Tombstones ([[multiRemove]]) persist through merges
  * until the oldest run participates, then drop. Flush and merge are pure
  * file I/O, safe from ANY thread, executor tasks included.
  *
  * Exactly-once correctness under replay is the WRAPPER's job (the
  * Opaque/Transactional tiers store txids in the value), exactly as with
  * any external store; a re-written key lands in a later segment and wins.
  *
  * Handles resolve through a process-wide registry, so `local[n]` executor
  * threads share one engine. On a cluster, one such store per state
  * partition behind `MicroBatchIBackingMap` chunking is the reference's
  * external-store deployment shape.
  */
final class DiskBackingMap[T] private (path: String)
  extends IBackingMap[T] with ScannableBacking with CommitAwareBacking
  with RemovableBacking {
  private def engine = DiskBackingMap.engine(path)
  def multiGet(keys: Seq[Seq[Any]]): Seq[Option[T]] =
    engine.multiGet(keys.map(StateSerializers.keyToJson))
      .map(_.map(engine.decode(_).asInstanceOf[T]))
  def multiPut(keys: Seq[Seq[Any]], vals: Seq[T]): Unit =
    engine.append(keys.map(StateSerializers.keyToJson)
      .zip(vals.map(v => engine.encode(v.asInstanceOf[Any]))))
  /** Key deletion via WAL tombstones: a reserved one-char value marks the
    * key dead (values are JSON-coded and can never collide with it). */
  def multiRemove(keys: Seq[Seq[Any]]): Unit =
    engine.append(keys.map(k =>
      (StateSerializers.keyToJson(k), DiskBackingMap.Tombstone)))
  /** Commit hook: bound WAL replay length by flushing once the WAL passes
    * `compactAfter` segments (flush also runs inline once `flushAfterKeys`
    * is exceeded mid-batch). */
  def onCommit(): Unit = engine.onCommit()
  /** Full scan — streams the merged runs; the returned Seq is the whole
    * key universe, so this face is for SMALL stores and parity specs.
    * Corpus-scale readouts go through [[DiskBackingMap.readAsDF]]. */
  def scanAll(): Seq[(Seq[Any], Any)] =
    engine.scanAll().map { case (k, v) =>
      (StateSerializers.keyFromJson(k), engine.decode(v))
    }
}

object DiskBackingMap {
  /** Value codec: JSON string ↔ value, matching the reference's JSON state
    * serializers. */
  final case class Codec(encode: Any => String, decode: String => Any)

  val opaqueCodec: Codec = Codec(
    v => StateSerializers.opaqueToJson(v.asInstanceOf[OpaqueValue[Any]]),
    StateSerializers.opaqueFromJson)
  val transactionalCodec: Codec = Codec(
    v => StateSerializers.transactionalToJson(v.asInstanceOf[TransactionalValue[Any]]),
    StateSerializers.transactionalFromJson)
  val nonTransactionalCodec: Codec = Codec(
    StateSerializers.nonTransactionalToJson, StateSerializers.nonTransactionalFromJson)

  /** WAL tombstone value (never a legal JSON-coded value): marks a key
    * removed. */
  private[state] val Tombstone: String = "\u0000"

  /** Keys per sparse-index entry, i.e. per cached block. */
  private val IndexEvery = 64
  /** Parsed blocks the LRU cache holds per store. */
  private val CacheBlocks = 2048
  private val BloomBitsPerKey = 8

  /** One sorted run on disk + its in-heap probes. */
  private final class Run(val file: Path, val count: Long,
      val indexKeys: Array[String], val indexOffsets: Array[Long],
      val bloomBits: Array[Long]) {
    def mightContain(k: String): Boolean = Bloom.probe(bloomBits, k, add = false)
  }

  private object Bloom {
    def alloc(expected: Long): Array[Long] = new Array[Long](
      math.max(1L, (expected * BloomBitsPerKey + 63) / 64).min(1L << 28).toInt)
    /** Set k's four bits (`add`), or report whether all four are set. */
    def probe(bits: Array[Long], k: String, add: Boolean): Boolean = {
      val h1 = scala.util.hashing.MurmurHash3.stringHash(k, 0x9747b28c)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(k, 0x85ebca6b)
      val m = bits.length.toLong * 64L
      var i = 0
      while (i < 4) {
        val bit = java.lang.Math.floorMod(h1.toLong + i.toLong * h2.toLong, m)
        val mask = 1L << (bit & 63)
        if (add) bits((bit >>> 6).toInt) |= mask
        else if ((bits((bit >>> 6).toInt) & mask) == 0L) return false
        i += 1
      }
      true
    }
  }

  /** A run's probes, built while its lines are written or read in order. */
  private final class Probes(expected: Long) {
    private val keys = Vector.newBuilder[String]
    private val offsets = Vector.newBuilder[Long]
    private val bloom = Bloom.alloc(expected)
    private var count = 0L
    private var offset = 0L
    def add(k: String, lineBytes: Long): Unit = {
      if (count % IndexEvery == 0) { keys += k; offsets += offset }
      Bloom.probe(bloom, k, add = true)
      count += 1
      offset += lineBytes
    }
    def run(file: Path): Run =
      new Run(file, count, keys.result().toArray, offsets.result().toArray, bloom)
  }

  private def entry(line: String): (String, String) = {
    val tab = line.indexOf('\t')
    (line.substring(0, tab), line.substring(tab + 1))
  }

  private def lines(in: BufferedReader): Iterator[String] =
    Iterator.continually(in.readLine()).takeWhile(_ != null)

  /** A file's `key\tvalue` entries in order; lines without a key skip. */
  private def entries(in: BufferedReader): Iterator[(String, String)] =
    lines(in).filter(_.indexOf('\t') > 0).map(entry)

  private def withReader[A](file: Path)(f: BufferedReader => A): A = {
    val in = Files.newBufferedReader(file, UTF_8)
    try f(in) finally in.close()
  }

  private def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  private def isRun(n: String) = n.startsWith("run-") && n.endsWith(".tsv")
  private def runNumber(n: String) = n.stripPrefix("run-").stripSuffix(".tsv").toLong
  private def isSegment(n: String) = n.startsWith("seg-") && n.endsWith(".jsonl")
  private def segmentSeq(p: Path) =
    p.getFileName.toString.stripPrefix("seg-").takeWhile(_.isDigit).toLong

  /** The MANIFEST: the highest WAL sequence folded into runs, and the live
    * runs (name, key count), newest first. */
  private final case class Manifest(folded: Long, runs: Vector[(String, Long)])

  private def readManifest(dir: Path): Manifest = {
    val f = dir.resolve("MANIFEST")
    if (!Files.exists(f)) Manifest(-1L, Vector.empty)
    else {
      val ls = Files.readAllLines(f, UTF_8).asScala.filter(_.nonEmpty).toVector
      Manifest(ls.head.toLong, ls.tail.map(entry).map { case (n, c) => (n, c.toLong) })
    }
  }

  /** WAL segments in write order, split at the folded sequence: (folded
    * into runs, live). */
  private def segments(dir: Path, folded: Long): (Vector[Path], Vector[Path]) =
    listDir(dir)(_.filter(p => isSegment(p.getFileName.toString)).toVector)
      .sortBy(segmentSeq).partition(segmentSeq(_) <= folded)

  private[state] final class Engine(dir: Path, codec: Codec,
      flushAfterKeys: Int, compactAfter: Int) {
    def encode(v: Any): String = codec.encode(v)
    def decode(s: String): Any = codec.decode(s)

    // every field below is guarded by this engine's lock
    // memtable: unflushed writes (value == Tombstone marks a delete)
    private val memtable = new java.util.HashMap[String, String]()
    // runs NEWEST FIRST (index 0 shadows index 1, ...)
    private var runs: Vector[Run] = Vector.empty
    private var folded = -1L // highest WAL sequence the runs hold
    private var segSeq = -1L // highest WAL sequence written
    private var runSeq = -1L
    private var segCount = 0 // live segments
    private val blockCache =
      new java.util.LinkedHashMap[(Path, Int), Array[(String, String)]](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Path, Int), Array[(String, String)]]): Boolean =
          size() > CacheBlocks
      }

    /** Temp write, fsync, then [[publish]] as `name`. */
    private def writeSynced(name: String, body: String): Unit = {
      val tmp = dir.resolve(s".$name.tmp")
      Files.write(tmp, body.getBytes(UTF_8), StandardOpenOption.CREATE,
        StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE,
        StandardOpenOption.SYNC)
      publish(tmp, dir.resolve(name))
    }

    /** Atomically rename a synced temp file into place, then fsync the
      * directory that holds the rename — without it a power loss can drop
      * a file whose write already returned. */
    private def publish(tmp: Path, target: Path): Unit = {
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      graft.util.Fs.syncDir(dir)
    }

    /** Rebuild a run's in-heap probes by streaming its file once. */
    private def loadRun(file: Path, count: Long): Run = {
      val p = new Probes(count)
      withReader(file)(lines(_).foreach { line =>
        p.add(line.substring(0, line.indexOf('\t')), line.getBytes(UTF_8).length + 1L)
      })
      p.run(file)
    }

    /** Load the MANIFEST's runs, drop unreachable files, replay the live
      * WAL; fold an over-grown memtable. */
    def load(): Unit = synchronized {
      memtable.clear(); blockCache.clear()
      val m = readManifest(dir)
      folded = m.folded
      runs = m.runs.map { case (n, c) => loadRun(dir.resolve(n), c) }
      val live = m.runs.map(_._1).toSet
      val names = listDir(dir)(_.map(_.getFileName.toString).toVector)
      runSeq = names.filter(isRun).map(runNumber).foldLeft(-1L)(math.max)
      // orphan runs (crash between a run's rename and the MANIFEST naming
      // it) are unreachable, as are half-written temps
      names.filter(n => (isRun(n) && !live(n)) || (n.startsWith(".") && n.endsWith(".tmp")))
        .foreach(n => Files.deleteIfExists(dir.resolve(n)))
      // a segment at or below the folded sequence is already in the runs:
      // replaying it would shadow every newer value flushed since
      val (stale, wal) = segments(dir, folded)
      stale.foreach(Files.deleteIfExists(_))
      wal.foreach(withReader(_)(entries(_).foreach { case (k, v) => memtable.put(k, v) }))
      segSeq = wal.lastOption.map(segmentSeq).getOrElse(folded)
      segCount = wal.size
      if (memtable.size >= flushAfterKeys || segCount > compactAfter) flush()
    }

    /** One atomic WAL segment, then the memtable; flush inline past the
      * cap (pure file I/O — safe from executor tasks). */
    def append(kvs: Seq[(String, String)]): Unit = synchronized {
      segSeq += 1
      writeSynced(
        f"seg-$segSeq%020d-${java.util.UUID.randomUUID().toString.take(8)}.jsonl",
        kvs.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))
      kvs.foreach { case (k, v) => memtable.put(k, v) }
      segCount += 1
      if (memtable.size >= flushAfterKeys) flush()
    }

    def onCommit(): Unit = synchronized {
      if (segCount > compactAfter) flush()
    }

    def multiGet(keys: Seq[String]): Seq[Option[String]] = synchronized {
      keys.map { k =>
        val mv = memtable.get(k)
        if (mv != null) { if (mv == Tombstone) None else Some(mv) }
        else lookupRuns(k)
      }
    }

    private def lookupRuns(k: String): Option[String] = {
      var i = 0
      while (i < runs.length) {
        val r = runs(i)
        if (r.mightContain(k)) {
          val v = lookupRun(r, k)
          if (v != null) return if (v == Tombstone) None else Some(v)
        }
        i += 1
      }
      None
    }

    /** Binary-search the sparse index, read + cache the block, search it. */
    private def lookupRun(r: Run, k: String): String = {
      if (r.indexKeys.length == 0) return null
      var lo = 0
      var hi = r.indexKeys.length - 1
      if (k < r.indexKeys(0)) return null
      while (lo < hi) { // greatest index entry <= k
        val mid = (lo + hi + 1) >>> 1
        if (r.indexKeys(mid) <= k) lo = mid else hi = mid - 1
      }
      val block = blockOf(r, lo)
      var a = 0
      var b = block.length - 1
      while (a <= b) {
        val mid = (a + b) >>> 1
        val c = block(mid)._1.compareTo(k)
        if (c == 0) return block(mid)._2
        else if (c < 0) a = mid + 1
        else b = mid - 1
      }
      null
    }

    private def blockOf(r: Run, blockIdx: Int): Array[(String, String)] = {
      val key = (r.file, blockIdx)
      val cached = blockCache.get(key)
      if (cached != null) return cached
      val start = r.indexOffsets(blockIdx)
      val end = if (blockIdx + 1 < r.indexOffsets.length)
        r.indexOffsets(blockIdx + 1) else Files.size(r.file)
      val bytes = new Array[Byte]((end - start).toInt)
      val ch = java.nio.channels.FileChannel.open(r.file, StandardOpenOption.READ)
      try {
        val buf = java.nio.ByteBuffer.wrap(bytes)
        var pos = start
        while (buf.hasRemaining) {
          val n = ch.read(buf, pos)
          if (n < 0) throw new java.io.EOFException(s"${r.file} truncated")
          pos += n
        }
      } finally ch.close()
      val block = new String(bytes, UTF_8)
        .split('\n').iterator.filter(_.nonEmpty).map(entry).toArray
      blockCache.put(key, block)
      block
    }

    /** Fold the memtable into a new head run, record the folded sequence,
      * drop the folded WAL, cascade merges while the head reaches half its
      * older neighbor. */
    def flush(): Unit = synchronized {
      if (!memtable.isEmpty) {
        val sorted = memtable.entrySet().iterator().asScala
          .map(e => (e.getKey, e.getValue)).toArray.sortBy(_._1)
        // a tombstone with NO older runs has nothing to mask — drop now
        val entries: Iterator[(String, String)] =
          if (runs.isEmpty) sorted.iterator.filter(_._2 != Tombstone)
          else sorted.iterator
        runs = writeRun(entries, sorted.length.toLong) +: runs
      }
      folded = segSeq
      writeManifest() // the run and its folded sequence land before any delete
      memtable.clear()
      segments(dir, folded)._1.foreach(Files.deleteIfExists(_))
      segCount = 0
      while (runs.length >= 2 && runs(0).count * 2 >= runs(1).count)
        mergeHead()
    }

    /** Stream-write a sorted run to a temp file, fsync, publish. */
    private def writeRun(entries: Iterator[(String, String)],
        expected: Long): Run = {
      runSeq += 1
      val name = f"run-$runSeq%020d.tsv"
      val tmp = dir.resolve(s".$name.tmp")
      val p = new Probes(expected)
      val out = Files.newOutputStream(tmp, StandardOpenOption.CREATE,
        StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
      val w = new java.io.BufferedOutputStream(out, 1 << 16)
      try {
        entries.foreach { case (k, v) =>
          val bytes = s"$k\t$v\n".getBytes(UTF_8)
          w.write(bytes)
          p.add(k, bytes.length)
        }
        w.flush()
      } finally w.close()
      // fsync before the rename so an OS crash can't expose a torn run
      val fc = java.nio.channels.FileChannel.open(tmp, StandardOpenOption.WRITE)
      try fc.force(true) finally fc.close()
      val file = dir.resolve(name)
      publish(tmp, file)
      p.run(file)
    }

    private def writeManifest(): Unit =
      writeSynced("MANIFEST",
        (folded.toString +: runs.map(r => s"${r.file.getFileName}\t${r.count}"))
          .mkString("", "\n", "\n"))

    /** Merge runs(0) (newer, wins ties) into runs(1); tombstones drop only
      * when the oldest run participates. */
    private def mergeHead(): Unit = {
      val newer = runs(0)
      val older = runs(1)
      val dropTombstones = runs.length == 2
      val run = withReader(newer.file) { a =>
        withReader(older.file) { b =>
          val na = entries(a).buffered
          val nb = entries(b).buffered
          val merged = new Iterator[(String, String)] {
            def hasNext: Boolean = na.hasNext || nb.hasNext
            def next(): (String, String) =
              if (!nb.hasNext || (na.hasNext && na.head._1 < nb.head._1)) na.next()
              else if (!na.hasNext || nb.head._1 < na.head._1) nb.next()
              else { nb.next(); na.next() } // equal keys: newer wins
          }
          writeRun(merged.filterNot(e => dropTombstones && e._2 == Tombstone),
            newer.count + older.count)
        }
      }
      runs = run +: runs.drop(2)
      writeManifest()
      Seq(newer, older).foreach { r =>
        Files.deleteIfExists(r.file)
        blockCache.keySet().removeIf(_._1 == r.file)
      }
    }

    /** Merged full scan: runs oldest→newest overlaid, then the memtable. */
    def scanAll(): Seq[(String, String)] = synchronized {
      val acc = new java.util.HashMap[String, String]()
      runs.reverseIterator.foreach(r => withReader(r.file)(
        entries(_).foreach { case (k, v) => acc.put(k, v) }))
      memtable.forEach((k, v) => acc.put(k, v))
      acc.entrySet().iterator().asScala
        .filter(_.getValue != Tombstone)
        .map(e => (e.getKey, e.getValue)).toVector
    }

    /** Approximate resident-heap bytes of this engine's probes — the
      * drill's bounded-memory evidence reads it. */
    def residentBytesEstimate(): Long = synchronized {
      var b = 0L
      runs.foreach { r =>
        b += r.bloomBits.length.toLong * 8
        b += r.indexOffsets.length.toLong * 8
        r.indexKeys.foreach(k => b += 40L + k.length.toLong * 2)
      }
      b += memtable.size.toLong * 120
      b += blockCache.size.toLong * IndexEvery.toLong * 80
      b
    }

    def runCount: Int = synchronized(runs.length)
    def runSizes: Seq[Long] = synchronized(runs.map(_.count))

    /** Flush and merge everything, so one run alone is the full state. */
    def compact(): Unit = synchronized {
      flush()
      while (runs.length >= 2) mergeHead()
    }
  }

  private val engines = TrieMap[String, Engine]()
  private[state] def engine(path: String): Engine =
    engines.getOrElse(path, throw new IllegalStateException(
      s"DiskBackingMap at $path not open in this process — call open() first"))

  /** Open (or re-open) the store at `path`: load the runs, replay the WAL,
    * and flush once the WAL has passed `compactAfter` segments. Heap bound ≈
    * flushAfterKeys·entrySize + keys/IndexEvery·keySize + keys +
    * CacheBlocks·IndexEvery·entrySize. Returns a serializable handle. */
  def open[T](path: String, codec: Codec, flushAfterKeys: Int = 262144,
      compactAfter: Int = 64): DiskBackingMap[T] = {
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    val e = new Engine(dir, codec, flushAfterKeys, compactAfter)
    e.load()
    engines.put(path, e)
    new DiskBackingMap[T](path)
  }

  /** Fold memtable + WAL + all runs into ONE run (e.g. at clean shutdown). */
  def compact(path: String): Unit = engine(path).compact()

  /** Drill introspection: (run count, run sizes newest-first, resident
    * probe-bytes estimate). */
  def stats(path: String): (Int, Seq[Long], Long) = {
    val e = engine(path)
    (e.runCount, e.runSizes, e.residentBytesEstimate())
  }

  /** Drop the in-process engine (simulates process exit; durable files
    * remain — the next `open()` replays them). */
  def close(path: String): Unit = engines.remove(path)

  /** The store's live contents as a DataFrame of (k, v) JSON strings — the
    * DISTRIBUTED read face: runs at MANIFEST precedence (newest wins)
    * unioned with the live WAL segments (newer still, later segments win),
    * resolved with one max_by per key; tombstoned keys drop. Nothing
    * driver-sized: a 10⁹-key store reads as a normal Spark job over its
    * files, and no in-process engine is needed. Read between commits (the
    * LSM reader discipline: renames are atomic, so a racing read sees or
    * misses whole files). Keys written more than once within ONE multiPut
    * call resolve arbitrarily among that call's values. */
  def readAsDF(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val dir = Paths.get(path)
    require(Files.isDirectory(dir), s"no durable state store at $path")
    val m = readManifest(dir)
    def kvOf(df: org.apache.spark.sql.Dataset[String],
             prec: org.apache.spark.sql.Column): DataFrame =
      df.select(F.col("value"), prec.as("__seq"))
        .where(F.instr(F.col("value"), "\t") > 0)
        .select(
          F.substring_index(F.col("value"), "\t", 1).as("k"),
          F.expr("substring(value, instr(value, '\t') + 1)").as("v"),
          F.col("__seq"))
    // run precedence: position from the END of the manifest (newest =
    // largest); live segments sit above every run
    val runDFs = m.runs.zipWithIndex.map { case ((n, _), i) =>
      kvOf(spark.read.textFile(dir.resolve(n).toString),
        F.lit((m.runs.length - i).toLong))
    }
    val segs = segments(dir, m.folded)._2.map(_.toString)
    val segDF =
      if (segs.isEmpty) None
      else Some(kvOf(spark.read.textFile(segs: _*),
        F.lit(1000000000L) +
          F.regexp_extract(F.input_file_name(), "seg-(\\d+)-", 1).cast("long")))
    val parts = runDFs ++ segDF
    if (parts.isEmpty) Seq.empty[(String, String)].toDF("k", "v")
    else parts.reduce(_.unionByName(_))
      .groupBy("k")
      .agg(F.max_by(F.col("v"), F.col("__seq")).as("v"))
      .where(F.col("v") =!= F.lit(Tombstone))
  }
}
