package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Scale-native keyed state over Spark's state store —
  * `persistentAggregate` via `transformWithState` (SURVEY.md §7.1 path (a)).
  *
  * Where [[StreamRunner]] drives an external `IBackingMap` (the reference's
  * MapState SPI, exactly-once via txid value wrappers), this path keeps
  * per-key state in the executor-local store (RocksDB provider, changelog
  * in the checkpoint): no external round-trips, state co-partitioned with
  * the shuffle.
  *
  * Exactly-once equivalence argument, per tier of the reference contract
  * (`storm/trident/state/map` — TransactionalMap, OpaqueMap,
  * NonTransactionalMap):
  *
  *  - TRANSACTIONAL tier (`TransactionalMap.java:40-95`): skip re-applying
  *    a batch whose txid already committed. The state store gives the same
  *    guarantee structurally — each micro-batch commits a store VERSION
  *    keyed by batchId, and a replayed batch reloads the PRE-batch version
  *    before re-applying, so a fold can never double-apply. Version log ≡
  *    per-key txid, enforced store-wide instead of per value.
  *  - OPAQUE tier (`OpaqueMap.java:40-85`): tolerate a REWRITTEN batch by
  *    keeping (txid, curr, prev) and rolling back to prev. Structured
  *    Streaming replays a batchId with the SAME offset range (WAL), and
  *    the store reloads the pre-batch version — the rollback `prev` exists
  *    as the previous version, so the rewritten-batch case is covered
  *    without value-level bookkeeping.
  *  - NON-TRANSACTIONAL tier: no replay protection anywhere; the store
  *    tier is strictly stronger.
  *
  * All processors are value-GENERIC (any `S` with an `Encoder`), mirror the
  * reference SPI surface (Combiner/Reducer folds), and expose the
  * ListState/MapState handles plus event-time timers. Emits the updated
  * (key, value) on every change — `TridentState.newValuesStream` in Update
  * mode.
  *
  * Requires
  * `spark.sql.streaming.stateStore.providerClass=
  * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`.
  */
object StateStoreRunner {

  /** Lowercase hex md5 of `s`'s UTF-8 bytes. `md` is the caller's own
    * digest, one per batch call: a `MessageDigest` is not thread-safe. */
  private def md5hex(md: java.security.MessageDigest, s: String): String =
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** CombinerAggregator fold per key, typed state: state ←
    * combine(state, init(row)) (reference `MapCombinerAggStateUpdater`
    * semantics, any value type).
    *
    * `ttl` bounds the keyspace for unbounded-cardinality keys (the
    * reference's `RotatingMap`/`LRUMemoryMapState` expiry tier,
    * utils/RotatingMap.java:36-68): a key idle past the TTL is evicted
    * and RE-ADMITTED FRESH on its next arrival — the documented trade
    * (run the batch face downstream when all-history totals matter).
    * Requires TimeMode.ProcessingTime at the transformWithState call. */
  class CombinerProcessor[K, V, S](zero: S, initV: V => S, combine: (S, S) => S,
                                   stateEnc: Encoder[S],
                                   ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[K, V, (K, S)] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S]("agg", stateEnc, ttl)

    override def handleInputRows(key: K, rows: Iterator[V],
                                 timerValues: TimerValues): Iterator[(K, S)] = {
      var acc = if (state.exists()) state.get() else zero
      rows.foreach(r => acc = combine(acc, initV(r)))
      state.update(acc)
      Iterator.single((key, acc))
    }
  }

  /** ReducerAggregator fold per key (`ReducerAggStateUpdater` semantics):
    * no combine step — rows fold directly into the typed state. */
  class ReducerProcessor[K, V, S](zero: () => S, reduce: (S, V) => S,
                                  stateEnc: Encoder[S],
                                  ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[K, V, (K, S)] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S]("acc", stateEnc, ttl)

    override def handleInputRows(key: K, rows: Iterator[V],
                                 timerValues: TimerValues): Iterator[(K, S)] = {
      var acc = if (state.exists()) state.get() else zero()
      rows.foreach(r => acc = reduce(acc, r))
      state.update(acc)
      Iterator.single((key, acc))
    }
  }

  /** ListState handle: bounded per-key event history (the state-store
    * spelling of `TupleCollectionGet` — last `maxLen` values per key,
    * oldest dropped). Emits the key's full history each batch. */
  class HistoryProcessor[K, V](maxLen: Int, valEnc: Encoder[V],
                               ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[K, V, (K, Seq[V])] {
    @transient private var hist: org.apache.spark.sql.streaming.ListState[V] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getListState[V]("hist", valEnc, ttl)

    override def handleInputRows(key: K, rows: Iterator[V],
                                 timerValues: TimerValues): Iterator[(K, Seq[V])] = {
      val newRows = rows.toVector
      val existing = if (hist.exists()) hist.get().toVector else Vector.empty[V]
      val appended = existing ++ newRows
      if (appended.size <= maxLen && ttl == TTLConfig.NONE) {
        // no truncation, no TTL → append only the arrivals: per-batch
        // store writes scale with arrival rate, not history length.
        // Under TTL the put branch below runs instead: ListState TTL is
        // per element, so an append-only write-back would let a live
        // key's older history entries expire individually — the
        // documented contract is whole-key idle eviction.
        if (newRows.nonEmpty)
          hist.appendList(newRows.toArray[Any].asInstanceOf[Array[V]])
        Iterator.single((key, appended))
      } else {
        val bounded = appended.takeRight(maxLen)
        hist.put(bounded.toArray[Any].asInstanceOf[Array[V]])
        Iterator.single((key, bounded))
      }
    }
  }

  /** Streaming LSH band bucket for [[graft.functions.Dedup.streamingLshCandidates]]:
    * first-seen-wins membership per band key. Each arriving (band, id)
    * emits a candidate pair against every id already registered in the
    * bucket, then registers itself while the bucket is under
    * `maxBucketSize`. The cap is the batch face's boilerplate discipline
    * made incremental: `lshCandidatePairs` drops an oversize bucket
    * RETROACTIVELY (it sees the full bucket before pairing); a stream
    * cannot retract emitted pairs, so this face stops pairing and
    * registering once full — pairs already emitted below the cap stand.
    * Per-bucket output is bounded at cap·(cap−1)/2 pairs for the bucket's
    * lifetime; state is ids only (the signature/text never enters the
    * store). Within a batch, ids are processed in sorted order so the
    * survivor set is retry-deterministic. Pairs emit as (min, max) to
    * align with the batch face's `a < b`. */
  class BandBucketProcessor(maxBucketSize: Int, ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, (String, Long), (Long, Long)] {
    @transient private var bucket: org.apache.spark.sql.streaming.ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bucket = getHandle.getListState[Long]("bucket", Encoders.scalaLong, ttl)

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                                 timerValues: TimerValues): Iterator[(Long, Long)] = {
      var members = if (bucket.exists()) bucket.get().toVector else Vector.empty[Long]
      val seen = scala.collection.mutable.HashSet.from(members)
      val fresh = Vector.newBuilder[Long]
      val out = Vector.newBuilder[(Long, Long)]
      rows.map(_._2).toVector.distinct.sorted.foreach { id =>
        if (!seen.contains(id) && members.size < maxBucketSize) {
          members.foreach(m => out += ((math.min(m, id), math.max(m, id))))
          members :+= id; seen += id; fresh += id
        }
      }
      val added = fresh.result()
      if (ttl == TTLConfig.NONE) {
        // no TTL: append-only keeps per-batch store writes proportional
        // to NEW members, not bucket size
        if (added.nonEmpty) bucket.appendList(added.toArray)
      } else if (members.nonEmpty) {
        // ListState TTL is PER ELEMENT: a full (or all-seen) bucket under
        // active traffic would never refresh and silently expire — then
        // re-admit empty and re-emit pairs. Rewrite the whole bucket on
        // every touch (≤ maxBucketSize longs) so TTL tracks activity.
        bucket.put(members.toArray)
      }
      out.result().iterator
    }
  }

  /** Streaming KMV distinct sketch PER KEY — the incremental face of
    * `Scale.kmvDistinct`: state is the ≤ k lexicographically smallest
    * md5 hashes of the distinct values seen (k strings per key, bounded
    * whatever the value cardinality). Each batch unions its arrivals'
    * hashes with the resumed minima and re-takes the k smallest — the
    * same union→distinct→re-TopK merge the sharded batch face (q181)
    * proves LOSSLESS, so the sketch after any batch sequence is
    * bit-identical to the batch sketch over the union of all arrivals
    * (spec-pinned against `Scale.kmvDistinct` on the same data). Emits
    * the refreshed (key, n_min, kth_60, est) row per touched key in
    * update mode — `est` uses the identical `(k−1)·2⁶⁰ / v_k` estimator
    * arithmetic, so a monitoring stream reads the same numbers the
    * batch face would report. */
  class KmvSketchProcessor(k: Int, ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, (String, String), (String, Long, Long, Long)] {
    require(k >= 2, s"k must be >= 2, got $k")
    @transient private var minima: org.apache.spark.sql.streaming.ListState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      minima = getHandle.getListState[String]("kmv", Encoders.STRING, ttl)

    override def handleInputRows(key: String, rows: Iterator[(String, String)],
                                 timerValues: TimerValues): Iterator[(String, Long, Long, Long)] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val cur = if (minima.exists()) minima.get().toVector else Vector.empty[String]
      val merged = (cur ++ rows.map(r => md5hex(md, r._2))).distinct.sorted.take(k)
      // ListState TTL is PER ELEMENT, not per key: a saturated sketch on
      // an actively-arriving key would silently expire under a
      // changed-only write-back (merged == cur skips the put, so nothing
      // refreshes the elements' TTL). Rewrite on every batch touch so
      // TTL tracks key ACTIVITY — ≤ k strings per touched key per batch.
      minima.put(merged.toArray)
      val nMin = merged.size.toLong
      val kth60 = java.lang.Long.parseLong(merged.last.take(15), 16)
      val est =
        if (nMin < k) nMin
        else (BigInt(k - 1) * BigInt(1152921504606846976L) /
          BigInt(math.max(kth60, 1L))).min(BigInt(4611686018427387904L)).toLong
      Iterator.single((key, nMin, kth60, est))
    }
  }

  /** Per-key (batch count, running total) pair — the shift-monitor fold
    * behind `Scale.streamingHistogramShift`: each batch emits how much
    * mass THIS batch put on the key next to the key's all-history total,
    * so a drift monitor compares new arrivals against the accumulated
    * distribution without a second pass. Key universe is the caller's
    * bounded bin set — no TTL. */
  class BatchAndTotalCountProcessor[K]
    extends StatefulProcessor[K, K, (K, Long, Long)] {
    @transient private var total: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[K],
                                 timerValues: TimerValues): Iterator[(K, Long, Long)] = {
      var n = 0L
      rows.foreach(_ => n += 1)
      val t = (if (total.exists()) total.get() else 0L) + n
      total.update(t)
      Iterator.single((key, n, t))
    }
  }

  /** Streaming bottom-k quantile sketch PER KEY — the incremental face
    * of `Scale.quantileSketch`: state is the ≤ k (md5(id), value) pairs
    * with the smallest hashes among everything arrived. Each batch
    * unions its arrivals with the resumed sample and re-takes the k
    * hash-smallest — the same union→re-TopK merge the sharded batch
    * face (q204) proves LOSSLESS, so after any batch sequence the
    * sample is bit-identical to the batch sketch over the union of all
    * arrivals (spec-pinned against `Scale.quantileSketch` +
    * `quantileEstimate` on the same data). Emits one
    * (key, q_ppm, n_samp, est) row per requested quantile per touched
    * key, the identical lower-nearest-rank read the batch face uses.
    * State is rewritten on EVERY batch touch (≤ k pairs) so per-element
    * TTL tracks key activity, not slot churn. */
  class QuantileSketchProcessor(k: Int, quantilesPpm: Seq[Long],
                                ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, (String, String, Long), (String, Long, Long, Long)] {
    require(k >= 2, s"k must be >= 2, got $k")
    require(quantilesPpm.nonEmpty &&
      quantilesPpm.forall(q => q >= 0L && q <= 1000000L),
      s"quantiles must be ppm in [0, 1000000], got $quantilesPpm")
    @transient private var samp: org.apache.spark.sql.streaming.ListState[(String, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      samp = getHandle.getListState[(String, Long)]("qsketch",
        Encoders.product[(String, Long)], ttl)

    override def handleInputRows(key: String, rows: Iterator[(String, String, Long)],
                                 timerValues: TimerValues): Iterator[(String, Long, Long, Long)] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val cur = if (samp.exists()) samp.get().toVector else Vector.empty[(String, Long)]
      // (hash, value) pair order — the batch face's deterministic
      // collision tie-break (identical pairs collapse via distinct)
      val merged = (cur ++ rows.map(r => (md5hex(md, r._2), r._3)))
        .distinct.sorted.take(k)
      samp.put(merged.toArray)
      val vs = merged.map(_._2).sorted
      val n = vs.size.toLong
      quantilesPpm.iterator.map { q =>
        (key, q, n, vs(((q * (n - 1)) / 1000000L).toInt))
      }
    }
  }

  /** Streaming per-dimension ROBUST STATS sketch — the live face of
    * `Similarity.dimensionRobustStatsSketch`: per dimension key, the
    * running bottom-k (md5(id), q2-value) sample accumulates exactly
    * like [[QuantileSketchProcessor]] (union → distinct → re-take-k,
    * the lossless KMV-style merge), and each batch emits the sample's
    * lower nearest-rank median and MAD in the batch face's
    * doubled/quadrupled-ppm scales. After any batch sequence the
    * emission is bit-identical to the batch face over the union of all
    * arrivals (spec-pinned). Emits (pos, n_samp, med_ppm2, mad_ppm4).
    * State per dimension: ≤ k pairs, rewritten per touch so per-element
    * TTL tracks key activity. */
  class RobustStatsSketchProcessor(k: Int, ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, (String, String, Long), (String, Long, Long, Long)] {
    require(k >= 2, s"k must be >= 2, got $k")
    @transient private var samp: org.apache.spark.sql.streaming.ListState[(String, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      samp = getHandle.getListState[(String, Long)]("rsketch",
        Encoders.product[(String, Long)], ttl)

    override def handleInputRows(key: String, rows: Iterator[(String, String, Long)],
                                 timerValues: TimerValues): Iterator[(String, Long, Long, Long)] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val cur = if (samp.exists()) samp.get().toVector else Vector.empty[(String, Long)]
      val merged = (cur ++ rows.map(r => (md5hex(md, r._2), r._3)))
        .distinct.sorted.take(k)
      samp.put(merged.toArray)
      val vs = merged.map(_._2).sorted
      val n = vs.size.toLong
      val rank = ((500000L * (n - 1)) / 1000000L).toInt
      val med = vs(rank)
      val devs = vs.map(v => (v - med).abs * 2L).sorted
      Iterator.single((key, n, med, devs(rank)))
    }
  }

  /** Streaming KS drift alarm PER KEY — the live face of
    * `Scale.sketchKsDistance` against a FIXED reference sample (e.g.
    * last month's accepted corpus, shipped as the ≤ k sorted values of
    * its bottom-k sketch): the key's running bottom-k sample accumulates
    * exactly like [[QuantileSketchProcessor]], and each batch emits the
    * two-sample KS distance between the running sample and the
    * reference — the "page when today's drop stops looking like the
    * reference" gate, incrementally. Same integer-ppm CDF arithmetic as
    * the batch face (non-negative floors, max over the value union,
    * smallest value reported on ties). Emits
    * (key, n_samp, d_ppm, at_value). */
  class KsAgainstReferenceProcessor(k: Int, refSorted: Seq[Long],
                                    ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, (String, String, Long), (String, Long, Long, Long)] {
    require(k >= 2, s"k must be >= 2, got $k")
    require(refSorted.nonEmpty && refSorted == refSorted.sorted,
      "reference sample must be non-empty ascending")
    @transient private var samp: org.apache.spark.sql.streaming.ListState[(String, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      samp = getHandle.getListState[(String, Long)]("kssample",
        Encoders.product[(String, Long)], ttl)

    override def handleInputRows(key: String, rows: Iterator[(String, String, Long)],
                                 timerValues: TimerValues): Iterator[(String, Long, Long, Long)] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val cur = if (samp.exists()) samp.get().toVector else Vector.empty[(String, Long)]
      val merged = (cur ++ rows.map(r => (md5hex(md, r._2), r._3)))
        .distinct.sorted.take(k)
      samp.put(merged.toArray)
      val vs = merged.map(_._2).sorted
      val n = vs.size.toLong
      val nr = refSorted.size.toLong
      val union = (vs ++ refSorted).distinct.sorted
      val gaps = union.map { v =>
        math.abs(vs.count(_ <= v).toLong * 1000000L / n -
          refSorted.count(_ <= v).toLong * 1000000L / nr)
      }
      val d = gaps.max
      val at = union(gaps.indexOf(d)) // first index = smallest value
      Iterator.single((key, n, d, at))
    }
  }

  /** Streaming incremental content digest PER SHARD — the incremental
    * face of `Scale.digestManifest`: state is (cnt, digest_hi, digest_lo),
    * the exact running sum of 60-bit row hashes carried as two longs
    * (recombined through BigInt for the carry; hi stays ≤ cnt, far from
    * overflow). Because the digest is a plain sum, folding each batch
    * into the resumed accumulator is EXACTLY the batch manifest over
    * everything arrived (spec-pinned) — a live ingest keeps its
    * copy-verification manifest current without ever rereading history. */
  class DigestProcessor
    extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long, Long)] {
    @transient private var acc: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = getHandle.getValueState[(Long, Long, Long)]("digest",
        Encoders.product[(Long, Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val C = BigInt(1152921504606846976L)
      val (c0, h0, l0) = if (acc.exists()) acc.get() else (0L, 0L, 0L)
      var cnt = c0
      var sum = BigInt(h0) * C + l0
      rows.foreach { r => cnt += 1; sum += r._2 }
      val hi = (sum / C).toLong
      val lo = (sum % C).toLong
      acc.update((cnt, hi, lo))
      Iterator.single((key, cnt, hi, lo))
    }
  }

  /** Streaming event-time frontier / lateness monitor PER CHANNEL — the
    * live face of `Temporal.watermarkAudit`: state is the channel's
    * running event-time frontier (max ts seen); each batch sorts its
    * arrivals by the arrival key (so intra-batch order matches the batch
    * face's total order), folds them through the frontier, and emits one
    * row per arrival with its lateness — a monitoring stream aggregates
    * these into the same band report the batch audit computes, and the
    * running numbers agree with the batch face over everything arrived
    * (spec-pinned; holds whenever the stream delivers arrivals in
    * arrival-key order across batches, which is what "arrival" means).
    *
    * Generic in the arrival-key type `A` so the intra-batch sort runs in
    * the key's NATURAL order — the same total order the batch face's
    * `orderBy(arrivalCol)` uses. A numeric arrival key (the usual
    * ingest-assigned id) goes through `A = Long`; routing it through the
    * string face would sort "10" before "9" and emit lateness values the
    * batch audit never assigns. [[graft.functions.Temporal.streamingLateness]]
    * picks the face from the column's type. */
  class WatermarkAuditProcessor[A: Ordering](ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, (String, A, Long), (String, A, Long)] {
    @transient private var frontier: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      frontier = getHandle.getValueState[Long]("frontier",
        Encoders.scalaLong, ttl)

    override def handleInputRows(key: String, rows: Iterator[(String, A, Long)],
                                 timerValues: TimerValues): Iterator[(String, A, Long)] = {
      var f = if (frontier.exists()) frontier.get() else Long.MinValue
      val out = rows.toVector.sortBy(_._2).map { case (_, arr, ts) =>
        f = math.max(f, ts)
        (key, arr, f - ts)
      }
      frontier.update(f)
      out.iterator
    }
  }

  /** Streaming heavy hitters: a Misra-Gries sketch PER KEY in the state
    * store — the incremental face of `Scale.heavyHitters`. State is the
    * sketch's ≤ k counters (+ the running total), bounded regardless of
    * item cardinality; each batch folds its arrivals into the resumed
    * sketch (MG summaries compose under sequential folding) and re-emits
    * the survivors. Emitted `mg_count` is the sketch's residual counter:
    * trueCount − total/k ≤ mg_count ≤ trueCount, and every item with
    * trueCount > total/k is guaranteed present — the batch path follows
    * with an exact count over candidates; a monitoring stream reads the
    * bounds directly. */
  class MisraGriesProcessor[K](k: Int, ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[K, (K, String), (K, String, Long, Long)] {
    require(k > 1, s"k must be > 1, got $k")
    @transient private var sketch: org.apache.spark.sql.streaming.MapState[String, Long] = _
    @transient private var total: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sketch = getHandle.getMapState[String, Long]("mg",
        Encoders.STRING, Encoders.scalaLong, ttl)
      total = getHandle.getValueState[Long]("total", Encoders.scalaLong, ttl)
    }

    override def handleInputRows(key: K, rows: Iterator[(K, String)],
                                 timerValues: TimerValues): Iterator[(K, String, Long, Long)] = {
      val orig: Map[String, Long] =
        if (sketch.exists()) Map.from(sketch.iterator()) else Map.empty
      val counters = scala.collection.mutable.HashMap.from(orig)
      val n = graft.functions.Scale.misraGriesFold(counters, rows.map(_._2), k)
      val t = (if (total.exists()) total.get() else 0L) + n
      total.update(t)
      // MapState TTL is PER ENTRY, not per key: a diff-aware write-back
      // would let STABLE counters expire while `total` keeps refreshing,
      // silently breaking the trueCount − total/k lower bound on an
      // actively-arriving key. Rewrite every counter on each batch touch
      // so TTL tracks key activity — the sketch is ≤ k entries anyway.
      orig.keysIterator.filterNot(counters.contains).foreach(sketch.removeKey)
      counters.foreach { case (i, c) => sketch.updateValue(i, c) }
      counters.iterator.map { case (i, c) => (key, i, c, t) }
    }
  }

  /** MapState handle: per-key SUB-keyed counts (e.g. per-user per-word) —
    * the value-generic map face the reference's `MapState` SPI exposes,
    * held in the store instead of an external backing map. Emits only the
    * sub-keys touched this batch.
    *
    * TTL here is PER SUB-KEY (MapState TTL is per entry), deliberately:
    * the unbounded keyspace is key×subkey, so an idle SUB-key expires
    * individually and restarts from 0 on its next arrival even while
    * its parent key stays active — unlike the sketch processors above,
    * which rewrite whole state per touch so TTL tracks KEY activity. */
  class SubKeyCountProcessor[K, SK](subEnc: Encoder[SK],
                                    ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[K, (K, SK), (K, SK, Long)] {
    @transient private var m: org.apache.spark.sql.streaming.MapState[SK, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      m = getHandle.getMapState[SK, Long]("counts", subEnc, Encoders.scalaLong, ttl)

    override def handleInputRows(key: K, rows: Iterator[(K, SK)],
                                 timerValues: TimerValues): Iterator[(K, SK, Long)] = {
      val touched = scala.collection.mutable.LinkedHashMap.empty[SK, Long]
      rows.foreach { case (_, sk) =>
        val n = (if (m.containsKey(sk)) m.getValue(sk) else 0L) + 1L
        m.updateValue(sk, n)
        touched(sk) = n
      }
      touched.iterator.map { case (sk, n) => (key, sk, n) }
    }
  }

  /** Running privacy-gate state per quasi-identifier group — the
    * streaming face of the release-gate trio's counting core
    * ([[graft.functions.Stats.kAnonymityAudit]] group sizes +
    * [[graft.functions.Stats.lDiversityAudit]] distinct sensitive
    * values): per quasi key, a MapState of sensitive-value counts (the
    * same (quasi, sensitive) count shape the batch audits collapse to)
    * so each batch emits the group's RUNNING size and sensitive
    * diversity — the live "is this group releasable yet" monitor.
    * Violation counts per batch are a filter over the emissions
    * (n_rows < k, ndv < l); streaming == batch is pinned in
    * StateStoreSpec against the q189/q212 classes.
    *
    * Under a non-NONE TTL, (tot, ndv) is FOLDED FROM THE LIVE MAP each
    * batch rather than kept in a separate ValueState: MapState TTL is
    * per ENTRY (each sensitive value expires from its own last update),
    * so a separately-TTL'd aggregate — refreshed on every batch that
    * touches the key — would outlive rare values' map entries and
    * double-count their ndv on re-arrival, overstating diversity
    * exactly where an l-diversity gate must not. The fold keeps the
    * emission consistent with whatever subset of entries the TTL has
    * actually kept alive. With TTL.NONE nothing ever expires, so the
    * O(1) incremental aggregate is provably consistent and the
    * per-batch fold cost is skipped.
    *
    * Scale shape: state is one map entry per DISTINCT (quasi, sensitive)
    * pair — exactly the batch audits' collapsed table, which saturates;
    * per-batch work is O(batch rows) per touched key under TTL.NONE,
    * plus O(live map entries) under a TTL (the group's sensitive-value
    * support — the quantity an l-diversity gate is sized for). */
  class PrivacyGateProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, (String, String), (String, Long, Long)] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _
    @transient private var agg: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, ttl)
      // only maintained (and only trustworthy) when ttl == NONE
      agg = getHandle.getValueState[(Long, Long)]("agg",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[(String, String)],
                                 timerValues: TimerValues): Iterator[(String, Long, Long)] = {
      if (ttl == TTLConfig.NONE) {
        var (tot, ndv) = if (agg.exists()) agg.get() else (0L, 0L)
        rows.foreach { case (_, s) =>
          val prev = if (counts.containsKey(s)) counts.getValue(s) else 0L
          if (prev == 0L) ndv += 1L
          counts.updateValue(s, prev + 1L)
          tot += 1L
        }
        agg.update((tot, ndv))
        Iterator.single((key, tot, ndv))
      } else {
        rows.foreach { case (_, s) =>
          val prev = if (counts.containsKey(s)) counts.getValue(s) else 0L
          counts.updateValue(s, prev + 1L)
        }
        var tot = 0L
        var ndv = 0L
        counts.iterator().foreach { case (_, c) => tot += c; ndv += 1L }
        Iterator.single((key, tot, ndv))
      }
    }
  }

  /** Streaming DP noisy-count release — the live face of
    * [[graft.functions.Stats.dpNoisyCounts]]: per key, a running count
    * in the state store; each batch that touches the key emits ONE
    * release `(key, release_idx, noisy_count)` with FRESH two-sided
    * truncated-geometric noise drawn from
    * `md5(key ␁ seed:release_idx)` through the same exact-rational
    * threshold table the batch face freezes (passed in as literals).
    * The release index entering the draw is what makes each release an
    * independent mechanism invocation — ε-ACCOUNTING IS THE CALLER'S:
    * k releases of one group compose to k·ε (publish per-batch deltas
    * or release rarely when the budget matters), and the seed-secrecy
    * caveat of the batch face applies unchanged.
    *
    * Emitted noisy counts floor at 0 (post-processing). State per key:
    * one (count, releases) pair. */
  class DpReleaseProcessor(thresholds: Array[Long], clampB: Int, seed: Long,
                           ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, (String, Long), (String, Long, Long)] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var rel: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[Long]("cnt", Encoders.scalaLong, ttl)
      // the release INDEX must NEVER expire: the md5 draw is keyed on
      // (key, idx), so a TTL reset to idx 1 would REUSE the exact noise
      // of the key's first release — an observer of both publications
      // subtracts them and the noise cancels (unbounded privacy loss on
      // the difference). Counts may expire (restart-fresh semantics);
      // the index is privacy-critical bookkeeping and stays TTL.NONE.
      rel = getHandle.getValueState[Long]("rel", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                                 timerValues: TimerValues): Iterator[(String, Long, Long)] = {
      var tot = if (st.exists()) st.get() else 0L
      rows.foreach { case (_, add) => tot += add }
      val idx = (if (rel.exists()) rel.get() else 0L) + 1L
      st.update(tot)
      rel.update(idx)
      val hex = md5hex(java.security.MessageDigest.getInstance("MD5"),
        s"$key\u0001$seed:$idx")
      val u = java.lang.Long.parseLong(hex.take(15), 16)
      var below = 0
      var i = 0
      while (i < thresholds.length) { if (thresholds(i) <= u) below += 1; i += 1 }
      Iterator.single((key, idx, math.max(tot + below - clampB, 0L)))
    }
  }

  /** Streaming DP HISTOGRAM release — the live face of
    * [[graft.functions.Stats.dpHistogram]], composing the
    * [[DpReleaseProcessor]] release-index pattern with the public-bin
    * frame: per key, running counts per bin in a MapState; each batch
    * that touches the key emits one release row for EVERY bin of the
    * public binning (0..numBins−1, empty bins included — the bin frame
    * must not leak which bins have data) with fresh noise drawn from
    * `md5(key ␁ bin ␁ seed:idx:hist)`. One row lands in one bin, so
    * the per-bin mechanisms compose in parallel: each release costs
    * ε = ln(noiseBase), and k releases compose to k·ε (the caller's
    * budget — [[graft.functions.DpBudget]] is the batch-side ledger).
    * Group-key-domain and seed-secrecy caveats as the batch face.
    *
    * TTL caveat: MapState TTL is per ENTRY, so under a non-NONE `ttl` a
    * rarely-hit bin's count can expire and restart from 0 while the
    * key's other bins (and its release index) survive — the running
    * histogram then under-counts that bin relative to the
    * whole-key-eviction reading. Privacy is unaffected — all public
    * bins always release, counts are state not support, and the
    * release index lives in TTL.NONE state so expiry can never rewind
    * it into reusing an earlier release's noise — but for exact
    * running totals use TTL.NONE, as the spec pins. */
  class DpHistogramReleaseProcessor(thresholds: Array[Long], clampB: Int,
                                    seed: Long, numBins: Int,
                                    ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, (String, Long), (String, Long, Long, Long)] {
    @transient private var bins: org.apache.spark.sql.streaming.MapState[Long, Long] = _
    @transient private var rel: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      bins = getHandle.getMapState[Long, Long]("bins",
        Encoders.scalaLong, Encoders.scalaLong, ttl)
      // release index NEVER expires — a TTL reset would reuse the
      // (key, idx, bin) noise of earlier releases and let an observer
      // cancel it across publications (see [[DpReleaseProcessor]])
      rel = getHandle.getValueState[Long]("rel", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                                 timerValues: TimerValues): Iterator[(String, Long, Long, Long)] = {
      rows.foreach { case (_, b) =>
        val prev = if (bins.containsKey(b)) bins.getValue(b) else 0L
        bins.updateValue(b, prev + 1L)
      }
      val idx = (if (rel.exists()) rel.get() else 0L) + 1L
      rel.update(idx)
      val md5 = java.security.MessageDigest.getInstance("MD5")
      (0L until numBins.toLong).iterator.map { b =>
        val n = if (bins.containsKey(b)) bins.getValue(b) else 0L
        val hex = md5hex(md5, s"$key\u0001$b\u0001$seed:$idx:hist")
        val u = java.lang.Long.parseLong(hex.take(15), 16)
        var below = 0
        var i = 0
        while (i < thresholds.length) { if (thresholds(i) <= u) below += 1; i += 1 }
        (key, idx, b, math.max(n + below - clampB, 0L))
      }
    }
  }

  /** Running per-key token offset — the streaming face of
    * `Sampling.shardPlan`: documents are laid into fixed-token-budget
    * output shards AS THEY ARRIVE, the cumulative offset resuming from the
    * state store across batches. Within a batch, rows are folded in id
    * order (the iterator's shuffle order is not deterministic; the sort is
    * per-key-per-batch, bounded by the batch). Cross-batch order is
    * arrival order — the streaming contract (a replayed batch re-folds
    * from the last committed offset, so shard ids are exactly-once under
    * the checkpoint-version argument above). Emits
    * (key, id, nTokens, startOffset, shardId). */
  class RunningOffsetProcessor(targetTokens: Long,
                               ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[String, (String, Long, Long), (String, Long, Long, Long, Long)] {
    require(targetTokens > 0, s"targetTokens must be positive: $targetTokens")
    @transient private var off: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      off = getHandle.getValueState[Long]("off", Encoders.scalaLong, ttl)

    override def handleInputRows(key: String, rows: Iterator[(String, Long, Long)],
                                 timerValues: TimerValues): Iterator[(String, Long, Long, Long, Long)] = {
      var cur = if (off.exists()) off.get() else 0L
      val out = rows.toVector.sortBy(_._2).map { case (_, id, n) =>
        val start = cur
        cur += n
        (key, id, n, start, start / targetTokens)
      }
      off.update(cur)
      out.iterator
    }
  }

  /** Event-time TIMERS (the reference's tick tuples, `executor.clj` tick
    * stream, on the native transformWithState timer API): each batch
    * re-arms a per-key timer `idleMs` past the current watermark; when the
    * watermark passes it with no new data, the key emits a
    * (key, "tick", count) tuple and clears. Input rows emit ("data", n). */
  class IdleTickProcessor[K](idleMs: Long)
    extends StatefulProcessor[K, (K, java.sql.Timestamp), (K, String, Long)] {
    @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var armed: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      count = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("t", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: K, rows: Iterator[(K, java.sql.Timestamp)],
                                 timerValues: TimerValues): Iterator[(K, String, Long)] = {
      // idle is measured from the key's LAST EVENT, not the watermark: on
      // the first batch the watermark still reads 0 (it reflects the
      // previous batch), and a watermark-anchored timer would fire the
      // moment other keys advance it — a spurious tick after one trigger
      var latest = timerValues.getCurrentWatermarkInMs()
      var arrived = 0L
      rows.foreach { case (_, ts) =>
        arrived += 1
        latest = math.max(latest, ts.getTime)
      }
      val n = (if (count.exists()) count.get() else 0L) + arrived
      count.update(n)
      if (armed.exists()) getHandle.deleteTimer(armed.get())
      val at = latest + idleMs
      getHandle.registerTimer(at)
      armed.update(at)
      Iterator.single((key, "data", n))
    }

    override def handleExpiredTimer(key: K, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[(K, String, Long)] = {
      val n = if (count.exists()) count.get() else 0L
      count.clear(); armed.clear()
      Iterator.single((key, "tick", n))
    }
  }

  /** STATE-PARTITION SIZING as API (VERDICT r13 #4 — the lshprof finding
    * promoted from bench-drill pin to a user-facing knob): a stateful
    * operator's per-batch fixed cost is `partitions × (store open +
    * commit + snapshot)`, and unlike a batch shuffle the partition count
    * is FROZEN into the checkpoint at the query's FIRST start — a query
    * planned at core-count partitions (32) pays 256 RocksDB commits over
    * 4 micro-batches for kilobytes of state (measured 11.2 s where 8
    * partitions do the same work in 3.5 s, SCALE.md §lshprof). Sizing
    * rule: **size state partitions to STATE VOLUME (and per-batch churn),
    * not core count** — small/medium state (≲ tens of MB per partition
    * at the target volume) wants few partitions; grow only when a single
    * partition's store would exceed executor memory or one task's
    * commit becomes the trigger bottleneck.
    *
    * Scope `body` (which must START the stateful query — the conf is
    * read at first start, then rides the checkpoint) with the given
    * partition count and, by default, RocksDB changelog checkpointing
    * (upload the per-batch delta, not a full snapshot — the production
    * posture for frequent small commits). Both confs are restored on
    * exit; a RESTART from the same checkpoint keeps the frozen partition
    * count whatever the session conf then says (spec-pinned). */
  def withStateConfig[A](spark: SparkSession, statePartitions: Int,
                         changelogCheckpointing: Boolean = true)(body: => A): A = {
    require(statePartitions > 0, s"statePartitions must be > 0, got $statePartitions")
    val pKey = "spark.sql.shuffle.partitions"
    val clKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevParts = spark.conf.get(pKey)
    val prevCl = spark.conf.getOption(clKey)
    spark.conf.set(pKey, statePartitions.toString)
    spark.conf.set(clKey, changelogCheckpointing.toString)
    try body
    finally {
      spark.conf.set(pKey, prevParts)
      prevCl match {
        case Some(v) => spark.conf.set(clKey, v)
        case None => spark.conf.unset(clKey)
      }
    }
  }

  /** `groupBy(key).persistentAggregate(Count)` on the state store: emits the
    * running count per key each batch. Optional `ttl` evicts idle keys
    * (unbounded-vocabulary discipline — see [[CombinerProcessor]]). */
  def runningCount[K: Encoder, V](grouped: Dataset[V], key: V => K,
                                  ttl: TTLConfig = TTLConfig.NONE)
                                 (implicit outEnc: Encoder[(K, Long)]): Dataset[(K, Long)] =
    runningCombine[K, V, Long](grouped, key, 0L, _ => 1L, _ + _, Encoders.scalaLong, ttl)

  /** Long-valued combiner fold — kept as the common fast path. */
  def runningFold[K: Encoder, V](grouped: Dataset[V], key: V => K, init: V => Long,
                                 combine: (Long, Long) => Long,
                                 ttl: TTLConfig = TTLConfig.NONE)
                                (implicit outEnc: Encoder[(K, Long)]): Dataset[(K, Long)] =
    runningCombine[K, V, Long](grouped, key, 0L, init, combine, Encoders.scalaLong, ttl)

  /** Value-generic combiner fold: any state type with an Encoder. A
    * non-NONE ttl switches the query to TimeMode.ProcessingTime (the
    * mode state TTL requires). */
  def runningCombine[K: Encoder, V, S](grouped: Dataset[V], key: V => K, zero: S,
                                       init: V => S, combine: (S, S) => S,
                                       stateEnc: Encoder[S],
                                       ttl: TTLConfig = TTLConfig.NONE)
                                      (implicit outEnc: Encoder[(K, S)]): Dataset[(K, S)] =
    grouped.groupByKey(key)
      .transformWithState(new CombinerProcessor[K, V, S](zero, init, combine, stateEnc, ttl),
        ttlTimeMode(ttl), OutputMode.Update())

  /** State TTL is only honored under processing-time mode; TimeMode.None
    * keeps the historical no-timer plans byte-identical when no TTL is
    * requested. */
  private[graft] def ttlTimeMode(ttl: TTLConfig): TimeMode =
    if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()

  /** Value-generic reducer fold (no combine step). */
  def runningReduce[K: Encoder, V, S](grouped: Dataset[V], key: V => K,
                                      zero: () => S, reduce: (S, V) => S,
                                      stateEnc: Encoder[S])
                                     (implicit outEnc: Encoder[(K, S)]): Dataset[(K, S)] =
    grouped.groupByKey(key)
      .transformWithState(new ReducerProcessor[K, V, S](zero, reduce, stateEnc),
        TimeMode.None(), OutputMode.Update())

  /** Bounded per-key history via the ListState handle. */
  def history[K: Encoder, V](ds: Dataset[V], key: V => K, maxLen: Int,
                             valEnc: Encoder[V], ttl: TTLConfig = TTLConfig.NONE)
                            (implicit outEnc: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] =
    ds.groupByKey(key)
      .transformWithState(new HistoryProcessor[K, V](maxLen, valEnc, ttl),
        ttlTimeMode(ttl), OutputMode.Update())

  /** Per-key sub-keyed running counts via the MapState handle. */
  def subKeyCounts[K: Encoder, SK](ds: Dataset[(K, SK)], subEnc: Encoder[SK],
                                   ttl: TTLConfig = TTLConfig.NONE)
                                  (implicit outEnc: Encoder[(K, SK, Long)]): Dataset[(K, SK, Long)] =
    ds.groupByKey(_._1)
      .transformWithState(new SubKeyCountProcessor[K, SK](subEnc, ttl),
        ttlTimeMode(ttl), OutputMode.Update())

  /** Idle-key ticks on event-time timers; `ds` = (key, event timestamp)
    * with a watermark already set on the timestamp column. */
  def idleTicks[K: Encoder](ds: Dataset[(K, java.sql.Timestamp)], idleMs: Long)
                           (implicit outEnc: Encoder[(K, String, Long)]): Dataset[(K, String, Long)] =
    ds.groupByKey(_._1)
      .transformWithState(new IdleTickProcessor[K](idleMs),
        TimeMode.EventTime(), OutputMode.Update())
}
