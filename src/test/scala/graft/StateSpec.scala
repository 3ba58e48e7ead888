package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.state._

/** Port of the reference's exactly-once state-machine tests —
  * `storm-core/test/clj/storm/trident/state_test.clj:33-98` (see
  * FIXTURES.md §A3). These traces are the semantic oracle for the
  * Opaque/Transactional wrappers. */
class StateSpec extends AnyFunSuite {

  // state_test.clj:33-56 — OpaqueValue update/get across txids
  test("OpaqueValue: new-txid update shifts curr to prev; same-txid update keeps prev") {
    val v0 = OpaqueValue.first(Some(7L), "a")        // first write at txid 7
    assert(v0.get(Some(8L)).contains("a"))           // later txid sees curr
    assert(v0.get(Some(7L)).isEmpty)                 // same txid sees pre-batch (none)

    val v1 = v0.update(Some(8L), "b")                // new txid: prev <- "a"
    assert(v1.prev.contains("a") && v1.curr == "b")
    val v2 = v1.update(Some(8L), "c")                // REPLAY of txid 8: prev stays "a"
    assert(v2.prev.contains("a") && v2.curr == "c")
    val v3 = v2.update(Some(9L), "d")
    assert(v3.prev.contains("c") && v3.curr == "d")
    val v4 = v3.update(Some(100L), "e")              // gap in txids is fine
    assert(v4.prev.contains("d") && v4.curr == "e")
    val v5 = v4.update(None, "f")                    // null txid: non-transactional
    assert(v5.prev.contains("e") && v5.curr == "f")
    // behind-current txid is an error
    intercept[IllegalStateException](v4.update(Some(99L), "x"))
    intercept[IllegalStateException](v4.get(Some(99L)))
  }

  private def count(partial: Long) = CombinerValueUpdater[Long](partial, _ + _)

  // state_test.clj:58-76 — OpaqueMap re-applies a replayed batch against prev
  test("OpaqueMap: same-txid replay rolls back to prev (replayed data may differ)") {
    MemoryBackingMap.clear("opq")
    val m = new OpaqueMap[Long](new MemoryBackingMap[OpaqueValue[Long]]("opq"))
    val k = Seq(Seq[Any]("a"))

    m.beginCommit(Some(1L))
    assert(m.multiGet(k) == Seq(None))
    m.multiUpdate(k, Seq(count(2)))                  // batch 1 adds 2
    assert(m.multiGet(k) == Seq(None))               // read-your-batch sees PRE-batch value
    m.commit(Some(1L))

    m.beginCommit(Some(1L))                          // REPLAY txid 1 with DIFFERENT data
    m.multiUpdate(k, Seq(count(3)))                  // re-applied against prev (nil) → 3
    m.commit(Some(1L))

    m.beginCommit(Some(2L))
    assert(m.multiGet(k) == Seq(Some(3L)))           // not 5: replay did not double-count
    m.multiUpdate(k, Seq(count(10)))
    m.commit(Some(2L))
    m.beginCommit(Some(3L))
    assert(m.multiGet(k) == Seq(Some(13L)))
    m.commit(Some(3L))
  }

  // state_test.clj:78-98 — TransactionalMap skips a same-txid replay entirely
  test("TransactionalMap: same-txid replay is skipped (batch contents identical)") {
    MemoryBackingMap.clear("txn")
    val m = new TransactionalMap[Long](new MemoryBackingMap[TransactionalValue[Long]]("txn"))
    val k = Seq(Seq[Any]("a"))

    m.beginCommit(Some(1L))
    m.multiUpdate(k, Seq(count(3)))
    m.commit(Some(1L))

    m.beginCommit(Some(1L))                          // replay txid 1
    val res = m.multiUpdate(k, Seq(count(3)))
    m.commit(Some(1L))
    assert(res == Seq(3L))                           // unchanged — skip, not re-add

    m.beginCommit(Some(2L))
    m.multiUpdate(k, Seq(count(4)))
    m.commit(Some(2L))
    assert(m.multiGet(k) == Seq(Some(7L)))
  }

  test("NonTransactionalMap folds every update (no replay protection)") {
    MemoryBackingMap.clear("non")
    val m = new NonTransactionalMap[Long](new MemoryBackingMap[Long]("non"))
    val k = Seq(Seq[Any]("a"))
    m.multiUpdate(k, Seq(count(2)))
    m.multiUpdate(k, Seq(count(2)))
    assert(m.multiGet(k) == Seq(Some(4L)))
  }

  test("SnapshottableMap stores a single global value under the reserved key") {
    MemoryBackingMap.clear("snap")
    val m = new SnapshottableMap[Long](
      new NonTransactionalMap[Long](new MemoryBackingMap[Long]("snap")))
    assert(m.get.isEmpty)
    m.update(count(5))
    m.update(count(7))
    assert(m.get.contains(12L))
  }

  // `ParquetBackingMap` is the former name of DiskBackingMap; the four
  // tests that carry it run against DiskBackingMap under their old names
  test("ParquetBackingMap: q53 word-count survives a process restart, matches memory path") {
    import org.apache.spark.sql.{functions => F}
    import graft.api.Fields
    import graft.streaming.StreamRunner
    lazy val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    TempDirs.withTempDir("graft-pbm") { dirP =>
      val dir = dirP.toString

      val batches = Seq(
        Seq("the cat sat", "the dog sat"),
        Seq("the cat ran"),
        Seq("a dog barked loudly"))
      def wordsDF(b: Seq[String]) =
        b.toDF("sentence").select(F.explode(F.split(F.col("sentence"), " ")).as("word"))
      def apply(state: MapState[Long], b: Seq[String], txid: Long): Unit =
        StreamRunner.applyBatch[Long](wordsDF(b), txid, Fields("word"),
          F.count(F.lit(1)).as("cnt"), _ + _, state)

      MemoryBackingMap.clear("pbm-ref")
      val mem = new OpaqueMap[Long](new MemoryBackingMap[OpaqueValue[Long]]("pbm-ref"))

      // batches 0,1 + an opaque replay of 1 with PERTURBED contents
      val durable1 = new OpaqueMap[Long](DiskBackingMap.open[OpaqueValue[Long]](
        dir, DiskBackingMap.opaqueCodec, compactAfter = 1))
      for (s <- Seq(mem, durable1)) {
        apply(s, batches(0), 0L)
        apply(s, Seq("the cat NOPE"), 1L) // failed attempt of batch 1
        apply(s, batches(1), 1L)          // replay with the real contents
      }

      // process restart: drop the in-memory engine, reopen from disk (this
      // also flushes the WAL into a sorted run: compactAfter=1)
      DiskBackingMap.close(dir)
      val durable2 = new OpaqueMap[Long](DiskBackingMap.open[OpaqueValue[Long]](
        dir, DiskBackingMap.opaqueCodec, compactAfter = 1))
      apply(durable2, batches(2), 2L)
      apply(mem, batches(2), 2L)

      // and once more, now loading through the sorted-run path
      DiskBackingMap.close(dir)
      val durable3 = new OpaqueMap[Long](DiskBackingMap.open[OpaqueValue[Long]](
        dir, DiskBackingMap.opaqueCodec, compactAfter = 64))
      val words = (batches.flatten.flatMap(_.split(" ")) :+ "NOPE").distinct.sorted
      val keys = words.map(w => Seq[Any](w))
      val durableCounts = words.zip(durable3.multiGet(keys)).toMap
      val memCounts = words.zip(mem.multiGet(keys)).toMap
      assert(durableCounts == memCounts)
      assert(durableCounts("the") == Some(3L)) // replayed batch counted once, not twice
      // opaque contract: a key only the FAILED attempt wrote keeps that value
      // (nothing re-writes it in the replay) — identically on both engines
      assert(durableCounts("NOPE") == Some(1L))
      val runs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("run-"))
      assert(runs.nonEmpty, "compaction produced no sorted run")
      DiskBackingMap.close(dir)
    }
  }

  test("ParquetBackingMap: concurrent multiPut from many threads survives restart intact") {
    TempDirs.withTempDir("graft-pbm-conc") { dirP =>
      val dir = dirP.toString
      val store = DiskBackingMap.open[String](
        dir, DiskBackingMap.nonTransactionalCodec, compactAfter = 1000)
      // 8 writers × 50 puts, each thread owns its key range (the partition
      // discipline partitionPersist gives executors) — every segment append
      // races through the shared engine
      val threads = (0 until 8).map { t =>
        new Thread(() => (0 until 50).foreach { i =>
          store.multiPut(Seq(Seq[Any](s"k$t-$i")), Seq(s"v$t-$i"))
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      DiskBackingMap.close(dir)
      val reopened = DiskBackingMap.open[String](
        dir, DiskBackingMap.nonTransactionalCodec, compactAfter = 1000)
      val keys = for (t <- 0 until 8; i <- 0 until 50) yield Seq[Any](s"k$t-$i")
      val got = reopened.multiGet(keys)
      assert(got.flatten.size == 400, s"lost ${400 - got.flatten.size} of 400 concurrent writes")
      assert(got.zip(keys).forall { case (v, k) =>
        v.contains(k.head.toString.replaceFirst("k", "v")) })
      DiskBackingMap.close(dir)
    }
  }

  private def segs(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.filter(
      _.getFileName.toString.startsWith("seg-")).toSeq.sorted finally s.close()
  }

  test("ParquetBackingMap: a crash between snapshot-write and segment-delete replays identically (VERDICT r14 #7)") {
    TempDirs.withTempDir("graft-pbm-crash") { dirP =>
      TempDirs.withTempDir("graft-pbm-stash") { stash =>
        val dir = dirP.toString
        val store = DiskBackingMap.open[String](
          dir, DiskBackingMap.nonTransactionalCodec, compactAfter = 1000)
        (0 until 10).foreach(i =>
          store.multiPut(Seq(Seq[Any](s"k$i")), Seq(s"v$i-final")))
        store.multiPut(Seq(Seq[Any]("k3")), Seq("v3-rewritten")) // later segment wins
        // stash the WAL, compact (run + MANIFEST, then deletes), then RESTORE
        // the stale segments — the on-disk state is now exactly the crash
        // window between compact()'s MANIFEST replace and its segment deletes
        val stashed = segs(dirP).map { p =>
          val t = stash.resolve(p.getFileName)
          java.nio.file.Files.copy(p, t); (t, p)
        }
        assert(stashed.nonEmpty)
        val preCrash = store.scanAll().toSet
        DiskBackingMap.compact(dir)
        assert(segs(dirP).isEmpty)
        stashed.foreach { case (t, p) => java.nio.file.Files.copy(t, p) }
        // 'crash' + restart: the runs already hold the stale segments —
        // state must match pre-crash exactly
        DiskBackingMap.close(dir)
        val reopened = DiskBackingMap.open[String](
          dir, DiskBackingMap.nonTransactionalCodec, compactAfter = 1000)
        assert(reopened.scanAll().toSet == preCrash)
        assert(reopened.multiGet(Seq(Seq[Any]("k3"))) == Seq(Some("v3-rewritten")))
        // post-crash writes land in segments seeded PAST the restored ones and
        // win the next replay too
        reopened.multiPut(Seq(Seq[Any]("k3")), Seq("v3-post-crash"))
        DiskBackingMap.close(dir)
        val again = DiskBackingMap.open[String](
          dir, DiskBackingMap.nonTransactionalCodec, compactAfter = 1000)
        assert(again.multiGet(Seq(Seq[Any]("k3"))) == Seq(Some("v3-post-crash")))
        DiskBackingMap.close(dir)
      }
    }
  }

  test("ParquetBackingMap: replay order survives a 'reboot' (clock-independent WAL names)") {
    TempDirs.withTempDir("graft-pbm-boot") { dir =>
      // a segment left by a 'previous boot' whose name encodes a huge
      // timestamp-like number — a clock-derived naming scheme would sort any
      // post-reboot write BEFORE it and replay stale data on top of new
      java.nio.file.Files.writeString(dir.resolve(f"seg-${Long.MaxValue / 2}%020d-deadbeef.jsonl"),
        "[\"k\"]\t[\"old\"]\n")
      val s1 = DiskBackingMap.open[String](dir.toString,
        DiskBackingMap.nonTransactionalCodec, compactAfter = 1000)
      assert(s1.multiGet(Seq(Seq[Any]("k"))) == Seq(Some("old")))
      s1.multiPut(Seq(Seq[Any]("k")), Seq("new")) // post-'reboot' write
      DiskBackingMap.close(dir.toString)
      val s2 = DiskBackingMap.open[String](dir.toString,
        DiskBackingMap.nonTransactionalCodec, compactAfter = 1000)
      assert(s2.multiGet(Seq(Seq[Any]("k"))) == Seq(Some("new")),
        "post-reboot write must replay AFTER the pre-reboot segment")
      DiskBackingMap.close(dir.toString)
    }
  }

  test("DiskBackingMap: a WAL segment already folded into runs never replays, and new segments number past it") {
    TempDirs.withTempDir("graft-dbm-stale") { dirP =>
      val dir = dirP.toString
      def openIt() = DiskBackingMap.open[String](dir, DiskBackingMap.nonTransactionalCodec)
      def get(m: DiskBackingMap[String]) = m.multiGet(Seq(Seq[Any]("k"))).head
      val m = openIt()
      m.multiPut(Seq(Seq[Any]("k")), Seq("a"))
      val Seq(first) = segs(dirP)
      val firstBytes = java.nio.file.Files.readAllBytes(first)
      DiskBackingMap.compact(dir)
      m.multiPut(Seq(Seq[Any]("k")), Seq("b"))
      DiskBackingMap.compact(dir)
      // a lost delete: k=a's segment outlives both flushes
      java.nio.file.Files.write(first, firstBytes)
      DiskBackingMap.close(dir)
      val m2 = openIt()
      assert(get(m2).contains("b"), "a folded segment replayed over newer data")
      assert(segs(dirP).isEmpty, "the folded segment was not deleted at open")
      // a restart after the flushes must not restart numbering below it
      m2.multiPut(Seq(Seq[Any]("k")), Seq("c"))
      val Seq(next) = segs(dirP)
      assert(next.getFileName.toString > first.getFileName.toString,
        s"$next numbered at or below the folded $first")
      java.nio.file.Files.write(first, firstBytes)
      DiskBackingMap.close(dir)
      assert(get(openIt()).contains("c"))
      DiskBackingMap.close(dir)
    }
  }

  test("DiskBackingMap (r16 bounded-heap tier): roundtrip, overwrite, tombstones, LSM merges, restart replay, crash-window WAL") {
    TempDirs.withTempDir("diskmap-spec") { dir =>
      val path = dir.toString
      // flushAfterKeys=4 forces flushes + cascading merges constantly
      def openIt() = DiskBackingMap.open[Long](path,
        DiskBackingMap.nonTransactionalCodec, flushAfterKeys = 4)
      val m = openIt()
      val ref = scala.collection.mutable.Map.empty[Long, Long]
      val rnd = new scala.util.Random(7)
      (0 until 200).foreach { i =>
        val k = rnd.nextInt(40).toLong
        if (rnd.nextInt(5) == 0 && ref.nonEmpty) {
          val dk = ref.keys.toSeq(rnd.nextInt(ref.size))
          m.multiRemove(Seq(Seq[Any](dk))); ref.remove(dk)
        } else {
          m.multiPut(Seq(Seq[Any](k)), Seq(i.toLong)); ref(k) = i.toLong
        }
      }
      def stored(mm: DiskBackingMap[Long]): Map[Long, Long] =
        mm.scanAll().map { case (k, v) =>
          k.head.asInstanceOf[Long] -> v.asInstanceOf[Long] }.toMap
      assert(stored(m) == ref.toMap)
      // point reads (runs + memtable + bloom + block cache paths)
      (0L until 40L).foreach { k =>
        assert(m.multiGet(Seq(Seq[Any](k))).head == ref.get(k), s"key $k")
      }
      // restart: replay from MANIFEST runs + WAL
      DiskBackingMap.close(path)
      val m2 = openIt()
      assert(stored(m2) == ref.toMap, "restart divergence")
      (0L until 40L).foreach { k =>
        assert(m2.multiGet(Seq(Seq[Any](k))).head == ref.get(k), s"post-restart $k")
      }
      // crash window: a put whose WAL landed but no flush ran — replay wins
      m2.multiPut(Seq(Seq[Any](999L)), Seq(123L))
      DiskBackingMap.close(path) // process exit with live WAL segments
      val m3 = openIt()
      assert(m3.multiGet(Seq(Seq[Any](999L))).head.contains(123L))
      // compact folds everything into one run; contents unchanged
      DiskBackingMap.compact(path)
      assert(stored(m3) == ref.toMap + (999L -> 123L))
      DiskBackingMap.close(path)
    }
  }

  test("MicroBatchBackingMap chunks bulk calls; CachedMap caches reads") {
    MemoryBackingMap.clear("chunk")
    var gets = 0
    val spy = new IBackingMap[Long] {
      val inner = new MemoryBackingMap[Long]("chunk")
      def multiGet(keys: Seq[Seq[Any]]): Seq[Option[Long]] = { gets += 1; inner.multiGet(keys) }
      def multiPut(keys: Seq[Seq[Any]], vals: Seq[Long]): Unit = inner.multiPut(keys, vals)
    }
    val chunked = new MicroBatchBackingMap[Long](spy, maxMultiGet = 2, maxMultiPut = 2)
    val keys = (1 to 5).map(i => Seq[Any](i))
    chunked.multiPut(keys, Seq(1L, 2L, 3L, 4L, 5L))
    assert(chunked.multiGet(keys).flatten == Seq(1L, 2L, 3L, 4L, 5L))
    assert(gets == 3) // ceil(5/2) chunked calls

    val cached = new CachedMap[Long](spy, capacity = 10)
    gets = 0
    cached.multiGet(keys); cached.multiGet(keys)
    assert(gets == 1) // second read served from cache
  }
  test("IncrementalClusters torn-write repair: a crash at ANY write point mid-fold replays to the same state, labels, and best representative (r15 write-order contract)") {
    // write order per fold is journal(1), best put(2), best remove(3 —
    // the r16 dead-entry GC), parents(4) — crash at each point in turn,
    // then replay the SAME batch and require full convergence with an
    // uncrashed reference run
    (1 to 5).foreach { crashAt => // 5 = no crash (control)
      def mkMaps(id: String) = (
        new NonTransactionalMap(new MemoryBackingMap[Long](s"$id-p")),
        new NonTransactionalMap(new MemoryBackingMap[(Double, Long)](s"$id-b")),
        new NonTransactionalMap(new MemoryBackingMap[Vector[Long]](s"$id-j")))
      val rid = s"torn-ref-$crashAt"
      val (rp, rb, rj) = mkMaps(rid)
      val ref = new graft.streaming.IncrementalClusters(rp, Some(rb), Some(rj))
      val cid = s"torn-crash-$crashAt"
      val (cp, cb, cj) = mkMaps(cid)
      // batch 0 (both engines, clean): {2,7} q50-best=7; {20,21}
      val b0 = Array((2L, 7L), (20L, 21L))
      val q0 = Map(2L -> ((10.0, 2L)), 7L -> ((50.0, 7L)),
        20L -> ((9.0, 20L)), 21L -> ((9.0, 21L)))
      ref.foldEdges(b0, rp, q0, 0L)
      val crash = new graft.streaming.IncrementalClusters(cp, Some(cb), Some(cj))
      crash.foldEdges(b0, cp, q0, 0L)
      // batch 1: 1 (q80) merges into {2,7} — root change 2->1, best -> 1.
      // One global put counter across all three maps via a shared cell:
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      final class SharedCrash[T](inner: MapState[T])
          extends MapState[T] {
        def multiGet(keys: Seq[Seq[Any]]): Seq[Option[T]] = inner.multiGet(keys)
        def multiUpdate(keys: Seq[Seq[Any]], us: Seq[ValueUpdater[T]]): Seq[T] =
          inner.multiUpdate(keys, us)
        def multiPut(keys: Seq[Seq[Any]], vals: Seq[T]): Unit = {
          if (counter.incrementAndGet() == crashAt)
            throw new RuntimeException("injected crash")
          inner.multiPut(keys, vals)
        }
        // removal is a write point too (the r16 dead-best GC)
        override def supportsRemove: Boolean = inner.supportsRemove
        override def multiRemove(keys: Seq[Seq[Any]]): Unit = {
          if (counter.incrementAndGet() == crashAt)
            throw new RuntimeException("injected crash")
          inner.multiRemove(keys)
        }
        def beginCommit(txid: Option[Long]): Unit = inner.beginCommit(txid)
        def commit(txid: Option[Long]): Unit = inner.commit(txid)
        override def scanAll(): Seq[(Seq[Any], Any)] = inner.scanAll()
      }
      val crashing = new graft.streaming.IncrementalClusters(
        new SharedCrash(cp), Some(new SharedCrash(cb)), Some(new SharedCrash(cj)))
      val b1 = Array((1L, 2L))
      val q1 = Map(1L -> ((80.0, 1L)), 2L -> ((10.0, 2L)))
      val refOut = ref.foldEdges(b1, rp, q1, 1L)
      val attempt = try { crashing.foldEdges(b1, new SharedCrash(cp), q1, 1L); true }
        catch { case e: RuntimeException if e.getMessage == "injected crash" => false }
      assert(attempt == (crashAt >= 5), s"crashAt=$crashAt attempt=$attempt")
      // replay on the RAW maps (process restarted, no fault)
      val replayOut = crash.foldEdges(b1, cp, q1, 1L)
      assert(replayOut == refOut,
        s"crashAt=$crashAt replay emission $replayOut != reference $refOut")
      def table(m: MapState[_]): Map[Seq[Any], Any] = m.scanAll().toMap
      assert(table(cp) == table(rp), s"crashAt=$crashAt parents diverged")
      assert(table(cb) == table(rb),
        s"crashAt=$crashAt best diverged: ${table(cb)} vs ${table(rb)}")
      assert(table(cj) == table(rj), s"crashAt=$crashAt journal diverged")
      Seq(s"$rid-p", s"$rid-b", s"$rid-j", s"$cid-p", s"$cid-b", s"$cid-j")
        .foreach(MemoryBackingMap.clear)
    }
  }
}
