package graft.state

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** Keyed-state SPI + exactly-once map wrappers — port of
  * `storm-core/src/jvm/storm/trident/state/map/` (SURVEY.md §2.2).
  *
  * Key = the group-by tuple (`Seq[Any]`), value = the aggregate. The
  * wrappers (`NonTransactionalMap` / `TransactionalMap` / `OpaqueMap`)
  * implement the three exactly-once tiers over any `IBackingMap`; the
  * streaming runner drives them with Structured Streaming `batchId`s as
  * txids inside `foreachBatch`.
  */

/** `state/map/IBackingMap.java:23` — bulk get/put SPI for external stores. */
trait IBackingMap[T] extends Serializable {
  def multiGet(keys: Seq[Seq[Any]]): Seq[Option[T]]
  def multiPut(keys: Seq[Seq[Any]], vals: Seq[T]): Unit
}

/** Optional scan face for backings that can enumerate their contents — the
  * keyed-table read behind `TridentState.toDF`/`newValuesStream`/
  * `TupleCollectionGet`. A backing without it fails those paths LOUDLY
  * instead of returning silently-empty state. */
trait ScannableBacking {
  def scanAll(): Seq[(Seq[Any], Any)]
}

/** Optional commit hook: the exactly-once wrappers call this from the
  * DRIVER-side `commit(txid)` bracket after each batch — where a store can
  * run maintenance once per batch (e.g. [[DiskBackingMap]] folds a grown
  * WAL into a sorted run here). */
trait CommitAwareBacking {
  def onCommit(): Unit
}

/** Optional removal face: backings that can DELETE keys (tombstones on the
  * durable tiers). State-compaction paths (dead `best` entries of absorbed
  * dup-cluster roots, VERDICT r15 #5) garbage-collect through it; a backing
  * without it simply accretes the dead entries (read paths filter them). */
trait RemovableBacking {
  def multiRemove(keys: Seq[Seq[Any]]): Unit
}

private[state] object CommitSupport {
  def onCommit(backing: IBackingMap[_]): Unit = backing match {
    case c: CommitAwareBacking => c.onCommit()
    case _ => ()
  }
}

/** `state/map/ReadOnlyMapState.java` / `MapState.java:23-24`. */
trait ReadOnlyMapState[T] extends Serializable {
  def multiGet(keys: Seq[Seq[Any]]): Seq[Option[T]]
}

trait MapState[T] extends ReadOnlyMapState[T] {
  def multiUpdate(keys: Seq[Seq[Any]], updaters: Seq[ValueUpdater[T]]): Seq[T]
  def multiPut(keys: Seq[Seq[Any]], vals: Seq[T]): Unit
  /** `State.beginCommit(txid)` / `commit(txid)` — batch bracketing
    * (`storm/trident/state/State.java`). */
  def beginCommit(txid: Option[Long]): Unit
  def commit(txid: Option[Long]): Unit
  /** Full (key, stored-value) scan when the backing supports it; values are
    * raw wrapper values (OpaqueValue/TransactionalValue) on those tiers. */
  def scanAll(): Seq[(Seq[Any], Any)] = throw new UnsupportedOperationException(
    s"${getClass.getSimpleName}'s backing map is not ScannableBacking — " +
      "state scans (toDF/newValuesStream/TupleCollectionGet) need one")
  /** Whether [[multiRemove]] is available (backing is [[RemovableBacking]]).
    * GC paths probe this and skip removal — never crash — when absent. */
  def supportsRemove: Boolean = false
  /** Delete keys outright (state GC — dead forwarding entries); only valid
    * when [[supportsRemove]]. Removal is a WRITE: callers sequence it in
    * the same commit bracket as the puts it accompanies. */
  def multiRemove(keys: Seq[Seq[Any]]): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName}'s backing map is not RemovableBacking")
}

private[state] object ScanSupport {
  def scan(backing: IBackingMap[_]): Seq[(Seq[Any], Any)] = backing match {
    case s: ScannableBacking => s.scanAll()
    case other => throw new UnsupportedOperationException(
      s"${other.getClass.getSimpleName} is not ScannableBacking — " +
        "state scans (toDF/newValuesStream/TupleCollectionGet) need one")
  }
}

/** `state/StateUpdater.java:26-32` — the raw sink SPI: sees every tuple of
  * the batch (already bracketed by beginCommit/commit by the runner) and
  * updates state arbitrarily; the returned tuples flow onward as the
  * state's new-values stream (`TridentState.newValuesStream`). */
trait StateUpdater[S <: MapState[_]] extends Serializable {
  def updateState(state: S, tuples: Seq[Seq[Any]]): Seq[Seq[Any]]
}

/** `state/map/NonTransactionalMap.java` — no replay protection. */
final class NonTransactionalMap[T](backing: IBackingMap[T]) extends MapState[T] {
  def multiGet(keys: Seq[Seq[Any]]): Seq[Option[T]] = backing.multiGet(keys)
  def multiUpdate(keys: Seq[Seq[Any]], updaters: Seq[ValueUpdater[T]]): Seq[T] = {
    val curr = backing.multiGet(keys)
    val news = curr.zip(updaters).map { case (c, u) => u.update(c) }
    backing.multiPut(keys, news)
    news
  }
  def multiPut(keys: Seq[Seq[Any]], vals: Seq[T]): Unit = backing.multiPut(keys, vals)
  def beginCommit(txid: Option[Long]): Unit = ()
  def commit(txid: Option[Long]): Unit = CommitSupport.onCommit(backing)
  override def scanAll(): Seq[(Seq[Any], Any)] = ScanSupport.scan(backing)
  override def supportsRemove: Boolean = backing.isInstanceOf[RemovableBacking]
  override def multiRemove(keys: Seq[Seq[Any]]): Unit = backing match {
    case r: RemovableBacking => r.multiRemove(keys)
    case _ => super.multiRemove(keys)
  }
}

/** `state/map/TransactionalMap.java:40-95` — stores `TransactionalValue`;
  * a replayed batch (stored txid == current txid) is SKIPPED, assuming the
  * replayed batch contents are identical (transactional sources). */
final class TransactionalMap[T](backing: IBackingMap[TransactionalValue[T]])
  extends MapState[T] {
  private var currTx: Option[Long] = None

  def beginCommit(txid: Option[Long]): Unit = { currTx = txid }
  def commit(txid: Option[Long]): Unit = { currTx = None; CommitSupport.onCommit(backing) }

  def multiGet(keys: Seq[Seq[Any]]): Seq[Option[T]] =
    backing.multiGet(keys).map(_.map(_.value))

  def multiUpdate(keys: Seq[Seq[Any]], updaters: Seq[ValueUpdater[T]]): Seq[T] = {
    val stored = backing.multiGet(keys)
    val (outKeys, outVals, results) = (mutable.Buffer[Seq[Any]](),
      mutable.Buffer[TransactionalValue[T]](), mutable.Buffer[T]())
    keys.lazyZip(stored).lazyZip(updaters).foreach { (k, s, u) =>
      s match {
        case Some(tv) if currTx.contains(tv.txid) =>
          // replay of an already-applied batch: keep the stored value
          results += tv.value
        case other =>
          val nv = TransactionalValue(currTx.getOrElse(0L), u.update(other.map(_.value)))
          outKeys += k; outVals += nv; results += nv.value
      }
    }
    if (outKeys.nonEmpty) backing.multiPut(outKeys.toSeq, outVals.toSeq)
    results.toSeq
  }

  def multiPut(keys: Seq[Seq[Any]], vals: Seq[T]): Unit =
    backing.multiPut(keys, vals.map(v => TransactionalValue(currTx.getOrElse(0L), v)))

  override def scanAll(): Seq[(Seq[Any], Any)] = ScanSupport.scan(backing)
}

/** `state/map/OpaqueMap.java:40-85` — stores `OpaqueValue`; a replayed batch
  * re-applies its update against `prev` (rollback), tolerating replays whose
  * contents differ from the original attempt (opaque sources). Reads during
  * a commit see the pre-batch value for the current txid. */
final class OpaqueMap[T](backing: IBackingMap[OpaqueValue[T]]) extends MapState[T] {
  private var currTx: Option[Long] = None

  def beginCommit(txid: Option[Long]): Unit = { currTx = txid }
  def commit(txid: Option[Long]): Unit = { currTx = None; CommitSupport.onCommit(backing) }

  def multiGet(keys: Seq[Seq[Any]]): Seq[Option[T]] =
    backing.multiGet(keys).map(_.flatMap(_.get(currTx)))

  def multiUpdate(keys: Seq[Seq[Any]], updaters: Seq[ValueUpdater[T]]): Seq[T] = {
    val stored = backing.multiGet(keys)
    val updated = stored.zip(updaters).map {
      case (Some(ov), u) => ov.update(currTx, u.update(ov.get(currTx)))
      case (None, u) => OpaqueValue.first(currTx, u.update(None))
    }
    backing.multiPut(keys, updated)
    updated.map(_.curr)
  }

  def multiPut(keys: Seq[Seq[Any]], vals: Seq[T]): Unit = {
    val stored = backing.multiGet(keys)
    val wrapped = stored.zip(vals).map {
      case (Some(ov), v) => ov.update(currTx, v)
      case (None, v) => OpaqueValue.first(currTx, v)
    }
    backing.multiPut(keys, wrapped)
  }

  override def scanAll(): Seq[(Seq[Any], Any)] = ScanSupport.scan(backing)
}

/** `testing/MemoryMapState.java:34` — in-memory backing store registered in
  * a process-wide registry so `local[n]` executor threads (same JVM) share
  * it; the test fixture of both the reference and this engine. A cluster
  * deployment swaps in a real `IBackingMap` (JDBC/KV) or the
  * `transformWithState` path — same wrapper semantics. */
final class MemoryBackingMap[T](id: String) extends IBackingMap[T]
  with ScannableBacking with RemovableBacking {
  private def store = MemoryBackingMap.store[T](id)
  def multiGet(keys: Seq[Seq[Any]]): Seq[Option[T]] = keys.map(k => store.get(k))
  def multiPut(keys: Seq[Seq[Any]], vals: Seq[T]): Unit =
    keys.zip(vals).foreach { case (k, v) => store.put(k, v) }
  def multiRemove(keys: Seq[Seq[Any]]): Unit = keys.foreach(store.remove(_))
  def scanAll(): Seq[(Seq[Any], Any)] = store.toSeq
}

object MemoryBackingMap {
  private val stores = TrieMap[String, TrieMap[Seq[Any], Any]]()
  private def store[T](id: String): TrieMap[Seq[Any], T] =
    stores.getOrElseUpdate(id, TrieMap[Seq[Any], Any]()).asInstanceOf[TrieMap[Seq[Any], T]]
  def snapshot[T](id: String): Map[Seq[Any], T] = store[T](id).toMap
  def clear(id: String): Unit = stores.remove(id)
}

/** `state/map/CachedMap.java:31-70` — cross-batch LRU read cache over a
  * (remote) backing map; writes update the cache. */
final class CachedMap[T](backing: IBackingMap[T], capacity: Int)
  extends IBackingMap[T] with ScannableBacking with RemovableBacking {
  /** Scans bypass the LRU (reads through to the full backing). */
  def scanAll(): Seq[(Seq[Any], Any)] = ScanSupport.scan(backing)
  private val cache = new java.util.LinkedHashMap[Seq[Any], Option[T]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Seq[Any], Option[T]]): Boolean =
      size() > capacity
  }
  def multiGet(keys: Seq[Seq[Any]]): Seq[Option[T]] = synchronized {
    // answer from a call-local map: reading back through the LRU would
    // return raw nulls for keys the fill loop itself just evicted
    // (guaranteed whenever keys.size > capacity)
    val resolved = scala.collection.mutable.HashMap[Seq[Any], Option[T]]()
    val missing = keys.distinct.filterNot { k =>
      val hit = cache.containsKey(k)
      if (hit) resolved(k) = cache.get(k)
      hit
    }
    if (missing.nonEmpty) {
      backing.multiGet(missing).zip(missing).foreach { case (v, k) =>
        resolved(k) = v
        cache.put(k, v)
      }
    }
    keys.map(resolved)
  }
  def multiPut(keys: Seq[Seq[Any]], vals: Seq[T]): Unit = synchronized {
    backing.multiPut(keys, vals)
    keys.zip(vals).foreach { case (k, v) => cache.put(k, Some(v)) }
  }
  def multiRemove(keys: Seq[Seq[Any]]): Unit = synchronized {
    backing match {
      case r: RemovableBacking => r.multiRemove(keys)
      case other => throw new UnsupportedOperationException(
        s"CachedMap backing ${other.getClass.getSimpleName} is not RemovableBacking")
    }
    keys.foreach(cache.put(_, None)) // removal is knowledge: cache the absence
  }
}

/** `state/map/MicroBatchIBackingMap.java:25-79` — chunk bulk calls so huge
  * batches don't overwhelm an external store. */
final class MicroBatchBackingMap[T](backing: IBackingMap[T], maxMultiGet: Int,
                                    maxMultiPut: Int)
  extends IBackingMap[T] with ScannableBacking with RemovableBacking {
  def scanAll(): Seq[(Seq[Any], Any)] = ScanSupport.scan(backing)
  def multiRemove(keys: Seq[Seq[Any]]): Unit = backing match {
    case r: RemovableBacking =>
      keys.grouped(maxMultiPut).foreach(r.multiRemove(_))
    case other => throw new UnsupportedOperationException(
      s"MicroBatchBackingMap backing ${other.getClass.getSimpleName} is not RemovableBacking")
  }
  def multiGet(keys: Seq[Seq[Any]]): Seq[Option[T]] =
    keys.grouped(maxMultiGet).flatMap(backing.multiGet).toSeq
  def multiPut(keys: Seq[Seq[Any]], vals: Seq[T]): Unit =
    keys.zip(vals).grouped(maxMultiPut).foreach { chunk =>
      backing.multiPut(chunk.map(_._1), chunk.map(_._2))
    }
}

/** `state/map/SnapshottableMap.java:26-73` — a single global value stored as
  * one reserved key (`$GLOBAL$`); backs `persistentAggregate` without
  * groupBy and `SnapshotGet`. */
final class SnapshottableMap[T](delegate: MapState[T]) extends Serializable {
  private val GlobalKey: Seq[Seq[Any]] = Seq(Seq("$GLOBAL$"))
  def get: Option[T] = delegate.multiGet(GlobalKey).head
  def update(updater: ValueUpdater[T]): T =
    delegate.multiUpdate(GlobalKey, Seq(updater)).head
  def set(v: T): Unit = delegate.multiPut(GlobalKey, Seq(v))
  def beginCommit(txid: Option[Long]): Unit = delegate.beginCommit(txid)
  def commit(txid: Option[Long]): Unit = delegate.commit(txid)
}

/** Access-accounting decorator: counts the KEYS each bulk call touches and
  * records every key read/written. The no-silent-cost audit face for
  * incremental state folds — the property suite and the hot-cluster scale
  * drill both pin "writes touch only read keys, cost is O(touched)" laws
  * through it (VERDICT r14 #1 done-criterion). */
final class CountingMapState[T](inner: MapState[T]) extends MapState[T] {
  private val gets = mutable.Buffer.empty[Seq[Any]]
  private val puts = mutable.Buffer.empty[Seq[Any]]
  def getKeyCount: Long = synchronized(gets.size.toLong)
  def putKeyCount: Long = synchronized(puts.size.toLong)
  def getKeys: Set[Seq[Any]] = synchronized(gets.toSet)
  def putKeys: Set[Seq[Any]] = synchronized(puts.toSet)
  def resetCounts(): Unit = synchronized { gets.clear(); puts.clear() }

  def multiGet(keys: Seq[Seq[Any]]): Seq[Option[T]] = {
    synchronized(gets ++= keys)
    inner.multiGet(keys)
  }
  def multiUpdate(keys: Seq[Seq[Any]], updaters: Seq[ValueUpdater[T]]): Seq[T] = {
    synchronized { gets ++= keys; puts ++= keys }
    inner.multiUpdate(keys, updaters)
  }
  def multiPut(keys: Seq[Seq[Any]], vals: Seq[T]): Unit = {
    synchronized(puts ++= keys)
    inner.multiPut(keys, vals)
  }
  // removal is a write-touch: the putKeys-subset-of-getKeys law covers it
  override def supportsRemove: Boolean = inner.supportsRemove
  override def multiRemove(keys: Seq[Seq[Any]]): Unit = {
    synchronized(puts ++= keys)
    inner.multiRemove(keys)
  }
  def beginCommit(txid: Option[Long]): Unit = inner.beginCommit(txid)
  def commit(txid: Option[Long]): Unit = inner.commit(txid)
  override def scanAll(): Seq[(Seq[Any], Any)] = inner.scanAll()
}
