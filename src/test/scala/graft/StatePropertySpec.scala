package graft

import org.scalacheck.{Gen, Prop, Properties}
import graft.state._

/** Property-based exactly-once contracts: for ANY sequence of batches with
  * arbitrary replays, OpaqueMap must behave as if each txid's LAST attempt
  * ran exactly once, and TransactionalMap as if each txid ran exactly once
  * (replays carry identical data). These generalize the fixed traces of
  * `state_test.clj:58-98`. */
object StatePropertySpec extends Properties("ExactlyOnceState") {

  // one logical batch: the partial count its final attempt contributes, plus
  // up to two DIFFERING failed attempts before it (opaque replay pattern)
  private case class Batch(finalPartial: Long, failedAttempts: List[Long])

  private val batchGen: Gen[Batch] = for {
    fin <- Gen.choose(0L, 20L)
    nFails <- Gen.choose(0, 2)
    fails <- Gen.listOfN(nFails, Gen.choose(0L, 20L))
  } yield Batch(fin, fails)

  private def count(partial: Long) = CombinerValueUpdater[Long](partial, _ + _)

  property("OpaqueMap: last attempt per txid wins for any replay pattern") =
    Prop.forAll(Gen.listOfN(8, batchGen)) { batches =>
      val id = s"prop-${java.util.UUID.randomUUID()}"
      val m = new OpaqueMap[Long](new MemoryBackingMap[OpaqueValue[Long]](id))
      val k = Seq(Seq[Any]("key"))
      batches.zipWithIndex.foreach { case (b, txid) =>
        // failed attempts: beginCommit + update, commit never lands, the
        // SAME txid is retried — possibly with different data
        b.failedAttempts.foreach { partial =>
          m.beginCommit(Some(txid.toLong))
          m.multiUpdate(k, Seq(count(partial)))
        }
        m.beginCommit(Some(txid.toLong))
        m.multiUpdate(k, Seq(count(b.finalPartial)))
        m.commit(Some(txid.toLong))
      }
      val expected = batches.map(_.finalPartial).sum
      val got = m.multiGet(k)
      MemoryBackingMap.clear(id)
      Prop(got == Seq(Some(expected))) :| s"got $got expected $expected"
    }

  property("TransactionalMap: identical-data replays are idempotent") =
    Prop.forAll(Gen.listOfN(8, Gen.zip(Gen.choose(0L, 20L), Gen.choose(1, 3)))) { spec =>
      val id = s"prop-${java.util.UUID.randomUUID()}"
      val m = new TransactionalMap[Long](new MemoryBackingMap[TransactionalValue[Long]](id))
      val k = Seq(Seq[Any]("key"))
      spec.zipWithIndex.foreach { case ((partial, attempts), txid) =>
        (1 to attempts).foreach { _ =>
          m.beginCommit(Some(txid.toLong))
          m.multiUpdate(k, Seq(count(partial))) // same data each attempt
          m.commit(Some(txid.toLong))
        }
      }
      val expected = spec.map(_._1).sum
      val got = m.multiGet(k)
      MemoryBackingMap.clear(id)
      Prop(got == Seq(Some(expected))) :| s"got $got expected $expected"
    }

  // shared tiny session for the durable-map property (no Spark jobs run at
  // compactAfter = MaxValue — open() only needs the session for snapshots)
  private lazy val propSpark = org.apache.spark.sql.SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private case class Op(key: String, partial: Long, failedFirst: Boolean,
                        restartBefore: Boolean)

  private val opGen: Gen[Op] = for {
    k <- Gen.oneOf("a", "b", "c")
    p <- Gen.choose(0L, 9L)
    f <- Gen.oneOf(true, false)
    r <- Gen.frequency(3 -> false, 1 -> true)
  } yield Op(k, p, f, r)

  property("ParquetBackingMap ≡ MemoryBackingMap for any batch/replay/restart sequence") =
    Prop.forAll(Gen.listOfN(10, opGen)) { ops =>
      val memId = s"pbmprop-${java.util.UUID.randomUUID()}"
      TempDirs.withTempDir("pbmprop") { path =>
        val dir = path.toString
        val mem = new OpaqueMap[Long](new MemoryBackingMap[OpaqueValue[Long]](memId))
        def openDurable() = new OpaqueMap[Long](ParquetBackingMap.open[OpaqueValue[Long]](
          propSpark, dir, ParquetBackingMap.opaqueCodec, compactAfter = Int.MaxValue))
        var durable = openDurable()
        ops.zipWithIndex.foreach { case (op, txid) =>
          if (op.restartBefore) { // process dies between batches, WAL replays
            ParquetBackingMap.close(dir)
            durable = openDurable()
          }
          val k = Seq(Seq[Any](op.key))
          for (m <- Seq(mem, durable)) {
            if (op.failedFirst) { // a differing failed attempt, then the real one
              m.beginCommit(Some(txid.toLong))
              m.multiUpdate(k, Seq(count(op.partial + 100)))
            }
            m.beginCommit(Some(txid.toLong))
            m.multiUpdate(k, Seq(count(op.partial)))
            m.commit(Some(txid.toLong))
          }
        }
        val keys = Seq("a", "b", "c").map(x => Seq[Any](x))
        val got = durable.multiGet(keys)
        val want = mem.multiGet(keys)
        MemoryBackingMap.clear(memId)
        ParquetBackingMap.close(dir)
        Prop(got == want) :| s"durable $got vs memory $want"
      }
    }

  property("IncrementalClusters over DiskBackingMap == over MemoryBackingMap for any batched edge stream; fold laws hold; mid-stream restart is lossless (r16)") =
    Prop.forAll(Gen.listOfN(4, Gen.listOf(
        Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L))))) { batches =>
      val id = s"prop-disk-${java.util.UUID.randomUUID()}"
      TempDirs.withTempDir("prop-disk") { path =>
        val dir = path.toString
        val memInc = graft.streaming.IncrementalClusters.inMemory(id)
        // flushAfterKeys=4: every batch crosses flush/merge boundaries
        var diskInc = graft.streaming.IncrementalClusters.durableDisk(dir,
          flushAfterKeys = 4)
        var diskParents = new CountingMapState(diskInc.parents)
        def q(n: Long): Double = ((n * 3) % 7).toDouble
        val ok = batches.zipWithIndex.forall { case (es0, txid) =>
          val es = es0.filter(e => e._1 != e._2).distinct
          val endpoints = es.flatMap(e => Seq(e._1, e._2)).distinct
          val quals = endpoints.map(n => n -> ((q(n), n))).toMap
          diskParents.resetCounts()
          val (memOut, memBest) =
            memInc.foldEdges(es.toArray, memInc.parents, quals, txid.toLong)
          val (diskOut, diskBest) =
            diskInc.foldEdges(es.toArray, diskParents, quals, txid.toLong)
          val emitOk = diskOut == memOut && diskBest == memBest
          val lawOk = diskParents.putKeys.subsetOf(diskParents.getKeys)
          val storedOk = diskInc.parents.scanAll().toMap ==
            memInc.parents.scanAll().toMap
          // process restart between batches: reopen from disk
          graft.streaming.IncrementalClusters.closeDurableDisk(dir)
          diskInc = graft.streaming.IncrementalClusters.durableDisk(dir,
            flushAfterKeys = 4)
          diskParents = new CountingMapState(diskInc.parents)
          val restartOk = diskInc.parents.scanAll().toMap ==
            memInc.parents.scanAll().toMap
          if (!(emitOk && lawOk && storedOk && restartOk))
            println(s"FAIL disk-vs-mem batch=$es emit=$emitOk law=$lawOk " +
              s"stored=$storedOk restart=$restartOk")
          emitOk && lawOk && storedOk && restartOk
        }
        graft.streaming.IncrementalClusters.closeDurableDisk(dir)
        graft.streaming.IncrementalClusters.clearInMemory(id)
        Prop(ok)
      }
    }

  property("IncrementalClusters.foldEdges: arbitrary batched edge streams — stored chains resolve to the reference union-find; emissions are exactly endpoints + root-change records; puts touch only read keys; replay is a state no-op") =
    Prop.forAll(Gen.listOfN(5, Gen.listOf(
        Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L))))) { batches =>
      val id = s"prop-inc-${java.util.UUID.randomUUID()}"
      val parents = new CountingMapState(new NonTransactionalMap(
        new MemoryBackingMap[Long](s"$id-p")))
      val bestM = new NonTransactionalMap(
        new MemoryBackingMap[(Double, Long)](s"$id-b"))
      val journalM = new NonTransactionalMap(
        new MemoryBackingMap[Vector[Long]](s"$id-j"))
      val inc = new graft.streaming.IncrementalClusters(parents, Some(bestM),
        Some(journalM))
      // deterministic per-node quality for the best-representative law
      def q(n: Long): Double = ((n * 7) % 5).toDouble
      // reference: min-label components over ALL edges seen so far
      def refComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
        val p = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val r = p.getOrElse(x, x)
          if (r == x) x else { val rr = find(r); p(x) = rr; rr }
        }
        edges.foreach { case (a, b) =>
          p.getOrElseUpdate(a, a); p.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) p(math.max(ra, rb)) = math.min(ra, rb)
        }
        p.keys.map(n => n -> find(n)).toMap
      }
      // resolve a stored (possibly chained) parents table to final labels
      def resolveStored(): Map[Long, Long] = {
        val raw = parents.scanAll().map { case (k, v) =>
          k.head.asInstanceOf[Long] -> v.asInstanceOf[Long] }.toMap
        def res(n: Long): Long = {
          var x = n; while (raw(x) != x) x = raw(x); x
        }
        raw.keys.map(n => n -> res(n)).toMap
      }
      var seen = Vector.empty[(Long, Long)]
      val ok = batches.zipWithIndex.forall { case (es0, txid) =>
        val es = es0.filter(e => e._1 != e._2).distinct
        val refBefore = refComponents(seen)
        val endpoints = es.flatMap(e => Seq(e._1, e._2)).distinct
        val quals = endpoints.map(n => n -> ((q(n), n))).toMap
        parents.resetCounts()
        parents.beginCommit(Some(txid.toLong))
        bestM.beginCommit(Some(txid.toLong))
        val (emitted, bestOf) =
          inc.foldEdges(es.toArray, parents, quals, txid.toLong)
        parents.commit(Some(txid.toLong)); bestM.commit(Some(txid.toLong))
        seen = seen ++ es
        val ref = refComponents(seen)
        // (1) stored state: every seen node present; chains resolve to the
        //     reference min label
        val storedOk = resolveStored() == ref
        // (2) DELTA emission: exactly this batch's endpoints under their
        //     post-batch labels, plus one (old root -> new root) record per
        //     pre-existing root absorbed this batch — never a membership
        val preRoots = endpoints.filter(refBefore.contains).map(refBefore).distinct
        val expectEmit = endpoints.map(n => (n, ref(n))).toSet ++
          preRoots.collect { case r if ref(r) != r => (r, ref(r)) }.toSet
        val emitOk = emitted.toSet == expectEmit
        // (3) scale law (VERDICT r14 #1): every written key was read by this
        //     fold — endpoints, new nodes, or traversed chain nodes — so the
        //     per-batch cost is O(touched), independent of component size
        val putsOk = parents.putKeys.subsetOf(parents.getKeys)
        // (4) best representative: every emitted cluster's best == max by
        //     (quality, -id) over the reference component's members
        def refBest(root: Long): (Double, Long) =
          ref.toSeq.collect { case (n, r) if r == root => (q(n), n) }
            .maxBy { case (qq, n) => (qq, -n) }
        val bestOk = emitted.map(_._2).distinct.forall { cl =>
          bestOf.get(cl).contains(refBest(cl))
        }
        // (5) replaying the same (last) batch leaves state identical and
        //     re-emits the ORIGINAL emission — endpoints under current
        //     labels PLUS the journaled root-change records (a crash that
        //     landed the state writes but lost the batch's output must not
        //     strand consumers on dead labels)
        val before = parents.scanAll().toSet
        parents.beginCommit(Some(txid.toLong))
        bestM.beginCommit(Some(txid.toLong))
        val (replay, _) = inc.foldEdges(es.toArray, parents, quals, txid.toLong)
        parents.commit(Some(txid.toLong)); bestM.commit(Some(txid.toLong))
        val replayOk = replay.toSet == emitted.toSet &&
          parents.scanAll().toSet == before
        if (!(storedOk && emitOk && putsOk && bestOk && replayOk))
          println(s"FAIL batch=$es stored=$storedOk emit=$emitOk (got ${emitted.toSet} want $expectEmit) puts=$putsOk best=$bestOk replay=$replayOk")
        storedOk && emitOk && putsOk && bestOk && replayOk
      }
      MemoryBackingMap.clear(s"$id-p"); MemoryBackingMap.clear(s"$id-b")
      MemoryBackingMap.clear(s"$id-j")
      Prop(ok)
    }

  property("StateIndex eviction == last-maxKeys-by-update-recency reference model for any delta stream") =
    Prop.forAll(Gen.listOfN(8, Gen.listOf(
        Gen.zip(Gen.choose(0, 9), Gen.choose(0L, 100L))))) { deltas =>
      val m = 4
      val idx = new graft.drpc.StateIndex[Int, Long](maxKeys = m,
        evictOldest = true)
      // reference: insertion-order map with move-to-end on update,
      // eldest-out on overflow (CachedMap's discipline keyed by writes)
      val ref = new java.util.LinkedHashMap[Int, Long]()
      var refEvicted = 0L
      deltas.zipWithIndex.foreach { case (updates, batch) =>
        idx.applyDelta(batch.toLong, updates)
        updates.foreach { case (k, v) => ref.remove(k); ref.put(k, v) }
        while (ref.size > m) {
          val eldest = ref.keySet().iterator().next()
          ref.remove(eldest); refEvicted += 1
        }
      }
      import scala.jdk.CollectionConverters._
      val want = ref.asScala.toMap
      val got = idx.snapshot._2
      val contentsOk = got == want
      val countOk = idx.evictedCount == refEvicted
      val authorityOk = idx.isAuthoritative == (refEvicted == 0L)
      if (!(contentsOk && countOk && authorityOk))
        println(s"FAIL contents=$contentsOk ($got vs $want) " +
          s"count=$countOk (${idx.evictedCount} vs $refEvicted) auth=$authorityOk")
      Prop(contentsOk && countOk && authorityOk)
    }

  property("OpaqueValue.update/get round-trips for monotone txids") =
    Prop.forAll(Gen.listOfN(6, Gen.choose(0L, 5L))) { deltas =>
      // txids strictly increasing via cumulative sums (+1)
      val txids = deltas.scanLeft(0L)((a, d) => a + d + 1).tail
      var v = OpaqueValue.first(Some(txids.head), "v0")
      val ok = txids.tail.zipWithIndex.forall { case (tx, i) =>
        val prevCurr = v.curr
        v = v.update(Some(tx), s"v${i + 1}")
        v.prev.contains(prevCurr) && v.curr == s"v${i + 1}" &&
          v.get(Some(tx)).contains(prevCurr) && // same-tx read sees pre-batch
          v.get(Some(tx + 1)).contains(v.curr)  // later tx sees committed
      }
      Prop(ok)
    }
}
