package graft.tools

import org.apache.spark.sql.SparkSession
import graft.util.Lineage

/** Shared bench/tuning drills — ONE spelling of the state-store word-count
  * drive, used by both the recorded bench entry
  * (`Bench.streamingWordCountStore`) and the tuning harness
  * ([[StateStoreBench]]), so the number the bench records and the number
  * the tuning tool compares are the same code path by construction. */
object Drills {

  /** Streaming LSH candidate generation under load: `docs` pumped through
    * `streamingLshCandidates` (minhash row maps + state-store band
    * buckets) in 4 micro-batches; returns (seconds, pairs emitted). Each
    * batch is id-offset AND word-salted (the ScaleDrill discipline) so
    * batches are disjoint near-dup universes: state grows across triggers
    * as an ingest stream's would, while per-batch pair volume stays the
    * corpus' own near-dup graph — the drill measures candidate
    * throughput, not a cross-batch duplication pathology. */
  def streamLshCandidates(spark: SparkSession, docs: Seq[(Long, String)],
                          batches: Int = 4): (Double, Long) =
    streamLshCandidatesCap(spark, docs, batches, 64)

  /** [[streamLshCandidates]] with the bucket cap exposed (cap 0 = state
    * round-trips but no registration or pair emission, isolating
    * state-store cost from pair volume); applies the production conf
    * pinning below, while [[streamLshCandidatesRaw]] is the bare
    * pipeline the lshprof diagnostic drives under ITS OWN confs.
    *
    * State-partition sizing (VERDICT r12 #3, measured by `ScaleDrill
    * lshprof`): this pipeline carries TWO stateful operators (band
    * buckets + the streaming pair dedup), and a stateful operator's
    * per-batch fixed cost is `partitions × (store open + commit +
    * snapshot)` — at spark.sql.shuffle.partitions=32 that is 256 RocksDB
    * commits over 4 micro-batches for kilobytes of state, 11.2 s of
    * drill time where 8 partitions do the same work in 3.5 s. Streaming
    * state partitioning must track STATE VOLUME, not core count (unlike
    * batch shuffles, it is frozen into the checkpoint at first start),
    * so the drill pins 8 partitions + changelog checkpointing (upload
    * the per-batch delta, not a full snapshot — the production
    * recommendation for frequent small commits) for the streaming
    * query and restores the session confs after. */
  def streamLshCandidatesCap(spark: SparkSession, docs: Seq[(Long, String)],
                             batches: Int, cap: Int): (Double, Long) =
    // the sizing rule as API (r14): 8 state partitions + changelog
    // checkpointing, restored after — see StateStoreRunner.withStateConfig
    graft.streaming.StateStoreRunner.withStateConfig(spark, statePartitions = 8) {
      streamLshCandidatesRaw(spark, docs, batches, cap)
    }

  private[tools] def streamLshCandidatesRaw(spark: SparkSession,
                                       docs: Seq[(Long, String)],
                                       batches: Int, cap: Int): (Double, Long) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ck = java.nio.file.Files.createTempDirectory("lsh-stream-ck").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val pairs = graft.functions.Dedup.streamingLshCandidates(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      k = 3, numHashes = 4, rowsPerBand = 2, maxBucketSize = cap)
    val emitted = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = pairs.writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        emitted.addAndGet(b.queryExecution.toRdd.count()); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .start()
    try {
      val t0 = System.nanoTime()
      (0 until batches).foreach { i =>
        input.addData(docs.map { case (id, t) =>
          (id + i * 10000000L,
            t.split(' ').iterator.map(w => s"${w}_b$i").mkString(" "))
        }: _*)
        q.processAllAvailable()
      }
      ((System.nanoTime() - t0) / 1e9, emitted.get())
    } finally {
      q.stop()
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(ck))
    }
  }

  /** Streaming incremental dup-clusters under load (VERDICT r13 #3's
    * bench row): the corpus' LSH candidate pairs, split into `batches`
    * disjoint hash-slices arriving as micro-batches, fold into the
    * union-find state ([[graft.streaming.IncrementalClusters]]) with
    * delta emission (endpoints + root-change records). Returns (seconds,
    * pairs, emitted rows, final cluster count); the timed region is the
    * batch folds only (candidate generation is the stream_lsh drill's
    * number). */
  def streamDupClusters(spark: SparkSession, sfDir: String,
                        batches: Int = 4): (Double, Long, Long, Long) = {
    import org.apache.spark.sql.{functions => F}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val banded = graft.functions.Dedup.lshBands(
      graft.functions.Dedup.minhashSignature(docs, "text", 3, 4), 4, 2)
    val pairs = Lineage.cut(graft.functions.Dedup.lshCandidatePairs(banded, "doc_id", 2)
      .select(F.col("a").cast("long").as("a"), F.col("b").cast("long").as("b")))
    val nPairs = pairs.count()
    val id = s"bench-dupc-${System.nanoTime()}"
    graft.streaming.IncrementalClusters.clearInMemory(id)
    val inc = graft.streaming.IncrementalClusters.inMemory(id)
    try {
      var emitted = 0L
      val t0 = System.nanoTime()
      (0 until batches).foreach { i =>
        val slice = pairs.where(
          F.pmod(F.xxhash64(F.col("a"), F.col("b")), F.lit(batches.toLong)) === i.toLong)
        emitted += inc.applyBatch(slice, "a", "b", i.toLong).count()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val clusters = inc.snapshot(spark)
        .select(F.countDistinct("cluster_id")).head().getLong(0)
      (sec, nPairs, emitted, clusters)
    } finally {
      graft.streaming.IncrementalClusters.clearInMemory(id)
      Lineage.release(pairs)
    }
  }

  /** 4-trigger transformWithState word count over a MemoryStream fed
    * `reps` copies of `texts` per trigger; returns elapsed seconds. The
    * query is stopped (and its temp checkpoint abandoned) on EVERY path —
    * a leaked ProcessingTime(0) query would keep re-triggering and skew
    * every later measurement in the JVM. */
  def storeWordCount(spark: SparkSession, texts: Seq[String], reps: Int): Double = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ck = java.nio.file.Files.createTempDirectory("wc-store-ck").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val counts = graft.streaming.StateStoreRunner.runningCount[String, String](
      input.toDS().flatMap(_.split(" ").iterator.filter(_.nonEmpty)), identity)
    val q = counts.writeStream.outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Long)], _: Long) =>
        b.queryExecution.toRdd.count(); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .start()
    try {
      val t0 = System.nanoTime()
      (0 until 4).foreach { _ =>
        input.addData(Seq.fill(reps)(texts).flatten: _*)
        q.processAllAvailable()
      }
      (System.nanoTime() - t0) / 1e9
    } finally {
      q.stop()
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(ck))
    }
  }

  /** CONCURRENT DRPC against live state, served by the KEYED FAST PATH
    * (VERDICT r13 #1): `threads` JVM threads fire timed single-key
    * `MapGet` lookups answered from a driver-held [[graft.drpc.StateIndex]]
    * that the RUNNING query's foreachBatch refreshes on every commit — the
    * reference's serving shape (`DRPCSpout.java:101-143` polling against
    * in-memory `MemoryMapState`), restoring its millisecond interactive
    * contract; the r13 spelling ran one Spark job per request and measured
    * 2.7-5.8 s p99 in scheduling overhead. The drill PINS, before timing:
    * (a) fast-path == job-path equality on a key sample (the same name's
    * executeDF face reads the checkpoint's statestore), and (b)
    * refresh-on-commit — a key re-ingested mid-serve must answer its new
    * committed count through the fast path. Returns (p50 ms, p99 ms,
    * setup sec) over all `requests`; `requests` lookups spread across the
    * key space. Fairness under concurrency is structural here (no shared
    * queue — each lookup is a lock-free read), so a bounded p99 is the
    * no-coordination evidence. */
  def drpcStateQueryConcurrent(spark: SparkSession, nKeys: Int,
                               threads: Int, requests: Int): (Double, Double, Double) = {
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ck = java.nio.file.Files.createTempDirectory("drpc-cc-ck").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val counts = graft.streaming.StateStoreRunner.runningCount[String, Long](
      input.toDS(), i => f"k$i%09d")
    val index = new graft.drpc.StateIndex[String, Long]
    val q = counts.writeStream.outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Long)], id: Long) =>
        graft.drpc.StateIndex.foldBatch(index)(b, id); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .start()
    try {
      val t0 = System.nanoTime()
      input.addData(0L until nKeys.toLong: _*)
      q.processAllAvailable()
      val drpc = new graft.drpc.LocalDRPC(spark)
      // job face (arbitrary-pipeline path — per-request statestore read)
      graft.drpc.LiveStateDrpc.registerStateQuery(
          drpc, spark, "bench_statequery_cc", ck, "agg") { (state, args) =>
        state.where(F.col("key.value") === args)
          .select(F.col("value.value").as("cnt"))
      }
      // fast face under the SAME name: execute() now serves from the
      // index, executeDF() still runs the job plan — the parity pair
      drpc.registerMapGet("bench_statequery_cc", index, identity[String])
      require(index.size == nKeys, s"index holds ${index.size} of $nKeys keys")
      Seq(0, nKeys / 3, nKeys - 1, nKeys).foreach { i => // nKeys = absent key
        val k = f"k$i%09d"
        val job = drpc.executeDF("bench_statequery_cc", k)
          .collect().map(r => s"[[${r.getLong(0)}]]").headOption.getOrElse("[]")
        val fast = drpc.execute("bench_statequery_cc", k)
        require(fast == job, s"fast/job divergence for $k: fast=$fast job=$job")
      }
      // refresh-on-commit: re-ingest key 0 while serving — the NEXT
      // committed batch's delta must reach the fast path
      input.addData(0L)
      q.processAllAvailable()
      val bumped = drpc.execute("bench_statequery_cc", "k000000000")
      require(bumped == "[[2]]", s"fast path missed the commit: $bumped")
      val setup = (System.nanoTime() - t0) / 1e9
      val step = math.max(1, nKeys / math.max(1, requests))
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try {
        val next = new java.util.concurrent.atomic.AtomicInteger(0)
        val futures = (0 until threads).map { _ =>
          pool.submit(new Runnable {
            override def run(): Unit = {
              var i = next.getAndIncrement()
              while (i < requests) {
                val keyId = (i.toLong * step) % nKeys
                val key = f"k$keyId%09d"
                val expected = if (keyId == 0L) "[[2]]" else "[[1]]"
                val r0 = System.nanoTime()
                val res = drpc.execute("bench_statequery_cc", key)
                require(res == expected,
                  s"unexpected DRPC result for $key: $res (want $expected)")
                lat.add((System.nanoTime() - r0) / 1e6)
                i = next.getAndIncrement()
              }
            }
          })
        }
        futures.foreach(_.get())
        require(q.isActive, "streaming query died during concurrent DRPC reads")
        import scala.jdk.CollectionConverters._
        val sorted = lat.asScala.map(_.doubleValue).toVector.sorted
        require(sorted.size == requests, s"lost latencies: ${sorted.size}/$requests")
        def pct(p: Double): Double =
          sorted(math.min(sorted.size - 1, (p * (sorted.size - 1)).round.toInt))
        (pct(0.50), pct(0.99), setup)
      } finally {
        // a failed require above must not leak non-daemon executor threads
        // that keep the bench JVM alive past spark.stop()
        pool.shutdownNow(); ()
      }
    } finally {
      q.stop()
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(ck))
    }
  }

  /** DRPC saturation drill (VERDICT r13 #7): the service under OVERLOAD —
    * `slowThreads` callers keep the bounded request queue pinned at/near
    * `queueSize` with Spark-job pipeline requests (rejections counted, the
    * 503 path), while `fastThreads` callers push `fastReqs` keyed lookups
    * through the fast path. Measures what the r13 24-request sample could
    * not: a CONTROLLED p50/p99 for the interactive tier while the job tier
    * is saturated, plus the job tier's sustained throughput under its own
    * backlog. Returns (fast p50 ms, fast p99 ms, slow jobs/sec, slow
    * completed, slow rejected). The index is driver-filled (the serving
    * tier is the thing under test; index maintenance is
    * [[drpcStateQueryConcurrent]]'s pin). */
  def drpcSaturation(spark: SparkSession, nKeys: Int, fastReqs: Int,
                     fastThreads: Int, slowThreads: Int,
                     queueSize: Int): (Double, Double, Double, Long, Long) = {
    import org.apache.spark.sql.{functions => F}
    val index = new graft.drpc.StateIndex[String, Long]
    index.applyDelta(0L, (0 until nKeys).map(i => (f"k$i%09d", i.toLong)))
    val drpc = new graft.drpc.LocalDRPC(spark)
    drpc.registerMapGet("sat_get", index, identity[String])
    drpc.register("sat_scan", _ =>
      // a real (small) distributed job per request — the pipeline tier
      spark.range(2000000L)
        .select(F.sum(F.pmod(F.xxhash64(F.col("id")), F.lit(1000L))).as("s")))
    val svc = new graft.drpc.DRPCService(drpc, requestTimeoutMs = 120000L,
      maxQueueSize = queueSize).start(workers = 2)
    try {
      svc.execute("sat_scan", "warm") // JIT + codegen outside the measurement
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val completed = new java.util.concurrent.atomic.AtomicLong(0L)
      val rejected = new java.util.concurrent.atomic.AtomicLong(0L)
      val unexpected = new java.util.concurrent.atomic.AtomicLong(0L)
      val slow = (1 to slowThreads).map { i =>
        val t = new Thread(() => {
          while (!stop.get()) {
            try { svc.execute("sat_scan", "x"); completed.incrementAndGet() }
            catch {
              case e: graft.drpc.DRPCExecutionException
                  if String.valueOf(e.getMessage).contains("queue full") =>
                rejected.incrementAndGet(); Thread.sleep(2L)
              case _: Throwable =>
                // a persistently failing job tier (service stopped, Spark
                // error) must not busy-spin nor read as completed=0 success
                // (ADVICE r14): back off and COUNT, the drill requires 0
                unexpected.incrementAndGet(); Thread.sleep(20L)
            }
          }
        }, s"drpc-sat-slow-$i")
        t.setDaemon(true); t.start(); t
      }
      // saturated = the backlog holds at least half the queue bound
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (svc.queuedCount < queueSize / 2 && System.nanoTime() < deadline)
        Thread.sleep(5L)
      require(svc.queuedCount >= queueSize / 2,
        s"queue never saturated: ${svc.queuedCount} < ${queueSize / 2}")
      val t0 = System.nanoTime()
      val completedAtT0 = completed.get()
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val fast = (1 to fastThreads).map { i =>
        val t = new Thread(() => {
          var j = next.getAndIncrement()
          while (j < fastReqs) {
            val keyId = j % nKeys
            val r0 = System.nanoTime()
            val res = svc.execute("sat_get", f"k$keyId%09d")
            require(res == s"[[$keyId]]", s"bad saturated lookup: $res")
            lat.add((System.nanoTime() - r0) / 1e6)
            j = next.getAndIncrement()
          }
        }, s"drpc-sat-fast-$i")
        // daemon like the slow tier: a thread wedged in a stalled execute
        // must not keep the bench JVM alive past spark.stop()
        t.setDaemon(true); t.start(); t
      }
      fast.foreach(_.join(120000))
      // the fast loop drains in well under a second — keep the slow tier
      // saturated for a >=3s window so its throughput figure has support
      while ((System.nanoTime() - t0) / 1e9 < 3.0) Thread.sleep(20L)
      // snapshot the numerator AT the window close: in-flight jobs that
      // drain during stop+join would otherwise land outside slowWall and
      // inflate the recorded tput ~10-15% (code-review r14 #3)
      val completedAtEnd = completed.get()
      val slowWall = (System.nanoTime() - t0) / 1e9
      stop.set(true)
      slow.foreach(_.join(130000))
      val slowSec = (completedAtEnd - completedAtT0) / math.max(slowWall, 1e-9)
      import scala.jdk.CollectionConverters._
      val sorted = lat.asScala.map(_.doubleValue).toVector.sorted
      require(sorted.size == fastReqs, s"lost latencies: ${sorted.size}/$fastReqs")
      require(unexpected.get() == 0L,
        s"slow tier hit ${unexpected.get()} non-queue-full errors — the " +
        "job path was failing, the drill's throughput figure is invalid")
      def pct(p: Double): Double =
        sorted(math.min(sorted.size - 1, (p * (sorted.size - 1)).round.toInt))
      (pct(0.50), pct(0.99), slowSec, completed.get(), rejected.get())
    } finally svc.stop()
  }

  /** [[streamDupClusters]]'s quality-aware face (VERDICT r14 #4): the same
    * hash-sliced candidate micro-batches, but each pair carries its
    * endpoints' quality (n_chars), and the fold maintains + emits the
    * per-cluster best representative alongside every label
    * (`applyBatchScored`). Returns (seconds, pairs, emitted rows, final
    * distinct winners). */
  def streamDupClustersScored(spark: SparkSession, sfDir: String,
                              batches: Int = 4): (Double, Long, Long, Long) = {
    import org.apache.spark.sql.{functions => F}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val quality = docs.select(F.col("doc_id").cast("long").as("id"),
      F.length(F.col("text")).cast("double").as("q"))
    val banded = graft.functions.Dedup.lshBands(
      graft.functions.Dedup.minhashSignature(docs, "text", 3, 4), 4, 2)
    val pairs = Lineage.cut(graft.functions.Dedup.lshCandidatePairs(banded, "doc_id", 2)
      .select(F.col("a").cast("long").as("a"), F.col("b").cast("long").as("b"))
      .join(quality.withColumnRenamed("id", "a").withColumnRenamed("q", "qa"), Seq("a"))
      .join(quality.withColumnRenamed("id", "b").withColumnRenamed("q", "qb"), Seq("b")))
    val nPairs = pairs.count()
    val id = s"bench-dupcq-${System.nanoTime()}"
    graft.streaming.IncrementalClusters.clearInMemory(id)
    val inc = graft.streaming.IncrementalClusters.inMemory(id)
    try {
      var emitted = 0L
      val t0 = System.nanoTime()
      (0 until batches).foreach { i =>
        val slice = pairs.where(
          F.pmod(F.xxhash64(F.col("a"), F.col("b")), F.lit(batches.toLong)) === i.toLong)
        emitted += inc.applyBatchScored(slice, "a", "b", "qa", "qb", i.toLong).count()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val winners = inc.bestSnapshot(spark)
        .select(F.countDistinct("best_id")).head().getLong(0)
      (sec, nPairs, emitted, winners)
    } finally {
      graft.streaming.IncrementalClusters.clearInMemory(id)
      Lineage.release(pairs)
    }
  }

  /** DRPC-over-live-state read latency vs state size: a transformWithState
    * running count holding `nKeys` distinct keys is kept RUNNING while
    * `requests` single-key DRPC lookups are timed through
    * [[graft.drpc.LocalDRPC]]. Since r15 the registered face is the
    * CACHED snapshot job path (one statestore read per commit,
    * requests between commits over persisted blocks — LiveStateDrpc's
    * registerStateQueryCached). Returns (mean ms, max ms, setup sec). The
    * caller sets the RocksDB provider. The running query is never locked
    * (MVCC by batch version), which the spec pins by interleaving
    * requests with live triggers. */
  def drpcStateQuery(spark: SparkSession, nKeys: Int, requests: Int): (Double, Double, Double) = {
    import org.apache.spark.sql.{functions => F}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ck = java.nio.file.Files.createTempDirectory("drpc-sq-ck").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val counts = graft.streaming.StateStoreRunner.runningCount[String, Long](
      input.toDS(), i => f"k$i%09d")
    val q = counts.writeStream.outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Long)], _: Long) =>
        b.queryExecution.toRdd.count(); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .start()
    try {
      val t0 = System.nanoTime()
      input.addData(0L until nKeys.toLong: _*)
      q.processAllAvailable()
      val setup = (System.nanoTime() - t0) / 1e9
      val drpc = new graft.drpc.LocalDRPC(spark)
      // the r16 job path: snapshot AND physical plan cached per commit —
      // a request substitutes its key literal into the cached plan and
      // executes over the persisted blocks (LiveStateDrpc
      // registerStateQueryPlanCached; r15 measured the snapshot-only
      // face at ~172 ms median)
      val snap = graft.drpc.LiveStateDrpc.registerStateQueryPlanCached(
          drpc, spark, "bench_statequery", ck, "agg") { (state, arg) =>
        state.where(F.col("key.value") === arg)
          .select(F.col("value.value").as("cnt"))
      }
      try {
        drpc.execute("bench_statequery", "k000000000") // builds the snapshot
        val step = math.max(1, nKeys / math.max(1, requests))
        val times = (0 until requests).map { i =>
          val key = f"k${(i.toLong * step) % nKeys}%09d"
          val r0 = System.nanoTime()
          val res = drpc.execute("bench_statequery", key)
          require(res.contains("[1]"), s"unexpected DRPC result for $key: $res")
          (System.nanoTime() - r0) / 1e6
        }
        require(q.isActive, "streaming query died during DRPC reads")
        val sortedT = times.sorted
        System.err.println(s"[drpc] per-request ms: ${times.map(t => f"$t%.0f").mkString(",")} med=${sortedT(times.size / 2)}")
        (times.sum / times.size, times.max, setup)
      } finally snap.close()
    } finally {
      q.stop()
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(ck))
    }
  }
}
