package stormbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession, functions => F}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.drpc.{DRPCExecutionException, DRPCService, LiveStateDrpc, LocalDRPC, StateIndex}
import graft.sources.BatchLog
import graft.streaming.StateStoreRunner

/** One job-path request, stamped at each boundary it crosses. */
final class Req(val args: String, val dueNs: Long) {
  @volatile var sentNs, startNs, endNs, doneNs = 0L
}

/** `LocalDRPC` that stamps each job-path request as a worker picks it up and
  * finishes it, and times fast-path gets; its jobs run in job group `drpc`. */
final class TracedDRPC(spark: SparkSession) extends LocalDRPC(spark) {
  /** Requests sent and not yet picked up, by argument, oldest first. */
  val waiting = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Req]]()
  val fastNs = new ConcurrentLinkedQueue[java.lang.Long]()

  override def execute(name: String, args: String): String = {
    val req = Option(waiting.get(args)).flatMap(q => Option(q.poll()))
    req.foreach(_.startNs = System.nanoTime())
    spark.sparkContext.setJobGroup("drpc", name)
    try super.execute(name, args)
    finally {
      spark.sparkContext.clearJobGroup()
      req.foreach(_.endNs = System.nanoTime())
    }
  }

  override def tryFast(name: String, args: String): Option[String] =
    if (!Trace.on) super.tryFast(name, args)
    else {
      val t0 = System.nanoTime()
      val out = super.tryFast(name, args)
      fastNs.add(System.nanoTime() - t0)
      out
    }
}

/** `drpc-serve`: DRPC reads beside live ingest on Spark's state-store tier.
  *
  * One generator appends a seeded batch of words to a `BatchLog` every
  * [[IngestPeriodMs]]; `StateStoreRunner.runningCount` (RocksDB store,
  * `ProcessingTime` trigger) counts them and `StateIndex.foldBatch` keeps
  * the keyed index current in `foreachBatch`. A second generator sends
  * `DRPCService` requests on a fixed schedule, whatever the replies do:
  * keyed `MapGet`s on the fast path, and one job-path function
  * (`LiveStateDrpc.registerStateQueryPlanCached`: the top words of a
  * prefix). Each batch also carries a new probe word, polled on the fast
  * path until it appears: the workload's latency is that freshness, timed
  * from the start of the first trigger that can fold the batch, and the
  * job-path latency is reported as a property and by the traced run. */
object DrpcWorkload {
  val IngestPeriodMs = 100L
  val IngestSentences = 10
  val WordsPerSentence = 10
  /** Twice what a trigger and a job-path request take together on four
    * cores, so that a machine running at half speed still keeps up: at
    * 1 s, slow spells on a shared machine pushed triggers past the
    * interval and freshness to several times its usual value. */
  val TriggerMs = 2000L
  val FastPeriodMs = 5L
  /** Load starts this long after a trigger fires. */
  val StartMs = 50L
  /** One job-path request per trigger interval, [[JobAtMs]] after the
    * trigger fires: once its commit is written, so the request refreshes
    * the snapshot and reads the new state, and before the next trigger.
    * A request that lands while a trigger runs delays that trigger's
    * commit, so the next request refreshes inside the next trigger too:
    * runs then lock into a slow mode about 1.5x slower in freshness and
    * 2.5x in job latency, and a run's medians split between two groups. */
  val JobPeriodMs = TriggerMs
  val JobAtMs = 1000L
  val Vocabulary = 50000
  val Zipf = 1.0
  val TopK = 5
  /** Three trigger intervals of untimed load. */
  val WarmS = (3 * TriggerMs - 100) / 1000.0

  final class Pipeline(val spark: SparkSession, val log: String, val query: StreamingQuery,
                       val index: StateIndex[String, Long], val drpc: TracedDRPC,
                       val service: DRPCService, val snap: LiveStateDrpc.CachedStateSnapshot,
                       val gen: Gen, val foldNs: AtomicLong, val folds: AtomicLong) {
    def stop(): Unit = {
      service.stop()
      snap.close()
      query.stop()
      BatchLog.drop(log)
      Runtime.stop(spark)
    }
  }

  def topk(state: org.apache.spark.sql.DataFrame, prefix: org.apache.spark.sql.Column) =
    state.where(F.col("key.value").startsWith(prefix))
      .select(F.col("key.value").as("word"), F.col("value.value").as("cnt"))
      .orderBy(F.col("cnt").desc, F.col("word"))
      .limit(TopK)

  def start(o: Opts, name: String): Pipeline = {
    val spark = Runtime.session(o, o.cores)
    import spark.implicits._
    val log = s"$name-${o.seed}"
    BatchLog.create(log)
    val ck = o.work.resolve(name).toAbsolutePath.toString
    val words = spark.readStream.format("graft.sources.BatchLogProvider")
      .option("log", log).load().as[String]
      .flatMap(_.split(' ').iterator)
    val index = new StateIndex[String, Long]
    val foldNs, folds = new AtomicLong()
    // the first batch is logged before the query starts, so its first
    // trigger folds it without waiting a trigger interval
    val gen = new Gen(o.seed, Vocabulary, Zipf)
    val first = gen.batch(IngestSentences, WordsPerSentence)
    BatchLog.append(log, first)
    gen.fold(first)
    // the engine's production posture for frequent small commits: RocksDB
    // changelog checkpointing, one state partition per core
    val q = StateStoreRunner.withStateConfig(spark, o.cores) {
      StateStoreRunner.runningCount[String, String](words, identity)
      .writeStream.queryName(name).outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch { (b: Dataset[(String, Long)], id: Long) =>
        val t0 = System.nanoTime()
        StateIndex.foldBatch(index)(b, id)
        if (Trace.on) { foldNs.addAndGet(System.nanoTime() - t0); folds.incrementAndGet() }
        ()
      }
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    }
    val deadline = System.nanoTime() + 60000000000L
    // committed = the trigger that folded it has finished its commit log
    def committed = q.recentProgress.exists(_.numInputRows > 0)
    while (!committed && System.nanoTime() < deadline) Thread.sleep(5)
    require(committed && index.version >= 0, "first batch was not committed")
    val drpc = new TracedDRPC(spark)
    drpc.registerMapGet("count", index, identity[String])
    val snap = LiveStateDrpc.registerStateQueryPlanCached(drpc, spark, "topk", ck, "agg")(topk)
    val service = new DRPCService(drpc, requestTimeoutMs = 10000L, maxQueueSize = 256).start(workers = 2)
    require(service.execute("topk", "w1").startsWith("["), "job path did not answer")
    new Pipeline(spark, log, q, index, drpc, service, snap, gen, foldNs, folds)
  }

  /** What one load phase measured. */
  final class Phase {
    val jobs = new ConcurrentLinkedQueue[Req]()
    val fresh = new ConcurrentLinkedQueue[java.lang.Double]()
    val late = new ConcurrentLinkedQueue[java.lang.Double]()
    val fastGets, fastHits, answered = new AtomicLong()
    val rejected, timeouts, depthMax, lagMax = new AtomicLong()
    val appendNs, appends = new AtomicLong()
    @volatile var secs = 0.0
  }

  /** Run both generators for `secs`; `record` decides whether this phase's
    * requests count as attempted operations. */
  def load(p: Pipeline, o: Opts, r: Result, secs: Double, ph: Phase, record: Boolean,
           probes: ConcurrentLinkedQueue[(String, Long)], probeNo: AtomicLong,
           lastSeen: ConcurrentHashMap[String, java.lang.Long]): Unit = {
    // start just after a trigger fires (ProcessingTime triggers fire on
    // multiples of the interval), so every window sees the triggers at the
    // same points of its schedule
    val startMs = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + StartMs
    Thread.sleep(startMs - System.currentTimeMillis())
    val t0 = System.nanoTime()
    val endNs = t0 + (secs * 1e9).toLong
    val keyRnd = new java.util.Random(o.seed * 31 + probeNo.get)
    val keyGen = new Gen(o.seed + 1, Vocabulary, Zipf)
    // senders only block on replies; enough of them that the schedule,
    // not the sender count, bounds how many requests are in flight
    val senders = Executors.newFixedThreadPool(16)

    /** Record every probe that has become visible. Batches become visible
      * in append order, so only the oldest outstanding probe is read. */
    def pollProbes(): Unit = {
      var head = probes.peek()
      while (head != null && p.service.execute("count", head._1) != "[]") {
        ph.fresh.add((System.nanoTime() - head._2) / 1e6)
        probes.poll()
        head = probes.peek()
      }
    }

    // ingest: one batch per period, each with one new probe word
    val ingest = new Thread(() => {
      var k = 0L
      while (System.nanoTime() < endNs) {
        val due = t0 + k * IngestPeriodMs * 1000000L
        sleepUntil(due)
        ph.late.add((System.nanoTime() - due) / 1e6)
        val probe = s"probe${probeNo.incrementAndGet()}"
        val b = p.gen.batch(IngestSentences, WordsPerSentence) :+ probe
        val a0 = System.nanoTime()
        BatchLog.append(p.log, b)
        val a1 = System.nanoTime()
        // freshness counts from the first trigger that can fold the batch:
        // the next multiple of the interval (a trigger that overruns it
        // delays the batch, and that delay counts). The wait before it is
        // the schedule's, not the engine's.
        val wall = System.currentTimeMillis()
        probes.add((probe, a1 + ((wall / TriggerMs + 1) * TriggerMs - wall) * 1000000L))
        if (Trace.on) Trace.record("sources.append", probe, a0, a1)
        ph.appendNs.addAndGet(a1 - a0); ph.appends.incrementAndGet()
        p.gen.fold(b)
        ph.lagMax.accumulateAndGet(probes.size.toLong, math.max)
        k += 1
      }
    }, "stormbench-ingest")

    // requests: fast gets every FastPeriodMs, job requests every JobPeriodMs
    // at JobAtMs into the trigger interval
    val requests = new Thread(() => {
      var k = 0L
      val jobEvery = JobPeriodMs / FastPeriodMs
      while (System.nanoTime() < endNs) {
        val due = t0 + k * FastPeriodMs * 1000000L
        sleepUntil(due)
        ph.late.add((System.nanoTime() - due) / 1e6)
        if (k % jobEvery == (JobAtMs - StartMs) / FastPeriodMs) {
          val req = new Req("w" + (1 + keyRnd.nextInt(99)), due)
          ph.depthMax.accumulateAndGet(p.service.queuedCount.toLong, math.max)
          if (record) r.synchronized(r.attempted += 1)
          senders.submit(new Runnable {
            def run(): Unit = {
              p.drpc.waiting.computeIfAbsent(req.args, _ => new ConcurrentLinkedQueue[Req]()).add(req)
              req.sentNs = System.nanoTime()
              try {
                val out = p.service.execute("topk", req.args)
                req.doneNs = System.nanoTime()
                if (!out.startsWith("[")) throw new IllegalStateException(s"bad reply $out")
                ph.jobs.add(req)
                ph.answered.incrementAndGet()
              } catch {
                case e: Exception =>
                  val msg = String.valueOf(e.getMessage)
                  if (msg.contains("queue full")) ph.rejected.incrementAndGet()
                  else if (msg.contains("timed out")) ph.timeouts.incrementAndGet()
                  if (record) r.synchronized { r.failed += 1; r.error(s"job request failed: $msg") }
              }
            }
          })
        }
        pollProbes()
        val key = keyGen.word()
        if (record) r.synchronized(r.attempted += 1)
        try {
          val out = p.service.execute("count", key)
          ph.fastGets.incrementAndGet()
          ph.answered.incrementAndGet()
          if (out != "[]") {
            ph.fastHits.incrementAndGet()
            val n = out.stripPrefix("[[").stripSuffix("]]").toLong
            val before = lastSeen.put(key, n)
            if (before != null && before > n && record)
              r.synchronized { r.failed += 1; r.error(s"count of $key went back from $before to $n") }
          }
        } catch {
          case e: DRPCExecutionException =>
            if (record) r.synchronized { r.failed += 1; r.error(s"fast get failed: ${e.getMessage}") }
        }
        k += 1
      }
    }, "stormbench-requests")

    ingest.start(); requests.start()
    ingest.join(); requests.join()
    ph.secs = (System.nanoTime() - t0) / 1e9
    // the last batches become visible after the load ends: keep polling, so
    // that their freshness counts here and is not timed from the next phase
    val deadline = System.nanoTime() + 30000000000L
    while (!probes.isEmpty && System.nanoTime() < deadline) {
      pollProbes()
      Thread.sleep(FastPeriodMs)
    }
    senders.shutdown()
    senders.awaitTermination(30, TimeUnit.SECONDS)
  }

  private def sleepUntil(ns: Long): Unit = {
    val d = ns - System.nanoTime()
    if (d > 0) Thread.sleep(d / 1000000L, (d % 1000000L).toInt)
  }

  /** Once ingest has stopped: every count and some top-k answers must equal
    * the generator's own. */
  def check(p: Pipeline, r: Result, probes: ConcurrentLinkedQueue[(String, Long)]): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    while (!probes.isEmpty && System.nanoTime() < deadline) {
      while (!probes.isEmpty && p.service.execute("count", probes.peek()._1) != "[]")
        probes.poll()
      Thread.sleep(10)
    }
    if (!probes.isEmpty) r.error(s"${probes.size} batches never became visible")
    // the job path reads the last batch in the commit log, which is written
    // after foreachBatch has updated the index
    while (p.snap.latestCommittedBatch() < p.index.version && System.nanoTime() < deadline)
      Thread.sleep(10)
    val want = p.gen.counts
    val wrong = want.count { case (k, n) => p.service.execute("count", k) != s"[[$n]]" }
    if (wrong > 0) r.error(s"$wrong of ${want.size} counts differ from the generator's")
    if (p.index.size != want.size)
      r.error(s"index holds ${p.index.size} keys, generator emitted ${want.size}")
    (1 to 20).foreach { i =>
      val prefix = s"w$i"
      val expect = want.toSeq.filter(_._1.startsWith(prefix))
        .sortBy { case (w, n) => (-n, w) }.take(TopK)
        .map { case (w, n) => s"""["$w",$n]""" }.mkString("[", ",", "]")
      val got = p.service.execute("topk", prefix)
      if (got != expect) r.error(s"topk($prefix) = $got, expected $expect")
    }
  }

  def run(o: Opts, r: Result): Unit = {
    var n = 0
    val (p, setupS, setups) = Runtime.setUp(3) {
      n += 1
      start(o, s"drpc$n")
    }(_.stop())
    r.metric("setup_s", setupS, "s", setups.size)
    r.props("setups_s") = setups.map(x => f"$x%.3f").mkString(" ")
    r.mark("setup")
    val stream = new StreamListener
    p.spark.streams.addListener(stream)
    val exec = new ExecListener
    p.spark.sparkContext.addSparkListener(exec)
    val probes = new ConcurrentLinkedQueue[(String, Long)]()
    val probeNo = new AtomicLong()
    val lastSeen = new ConcurrentHashMap[String, java.lang.Long]()

    load(p, o, r, WarmS, new Phase, record = false, probes, probeNo, lastSeen)
    p.gen.resetShape()
    r.mark("warm")

    def jobLat(ph: Phase) = ph.jobs.asScala.toSeq.map(q => (q.doneNs - q.dueNs) / 1e6)
    if (!o.trace) {
      val ph = new Phase
      load(p, o, r, o.seconds, ph, record = true, probes, probeNo, lastSeen)
      val fresh = ph.fresh.asScala.toSeq.map(_.doubleValue)
      r.metric("latency_p50_ms", Stats.median(fresh), "ms", fresh.size)
      r.metric("latency_p90_ms", Stats.quantile(fresh, 0.9), "ms", fresh.size)
      r.metric("throughput_per_s", ph.answered.get / ph.secs, "1/s", ph.answered.get.toInt)
      val lat = jobLat(ph)
      r.props("job_p50_ms") = f"${Stats.median(lat)}%.1f"
      r.props("job_p90_ms") = f"${Stats.quantile(lat, 0.9)}%.1f"
      r.props("lag_batches_max") = ph.lagMax.get
      r.mark("window")
      p.gen.props(r, "")
    } else {
      val plain = new Phase
      load(p, o, r, o.seconds / 2, plain, record = true, probes, probeNo, lastSeen)
      Runtime.drain(p.spark)
      exec.reset(); stream.reset(); Trace.reset()
      p.drpc.fastNs.clear()
      val gc0 = Runtime.gcMs()
      Runtime.resetHeapPeak()
      val ph = new Phase
      Trace.on = true
      load(p, o, r, o.seconds / 2, ph, record = true, probes, probeNo, lastSeen)
      Runtime.drain(p.spark)
      val reqs = ph.jobs.asScala.toSeq
      reqs.foreach { q =>
        val root = Trace.record("request", q.args, q.sentNs, q.doneNs)
        Trace.record("drpc.queue_wait", q.args, q.sentNs, q.startNs, root)
        Trace.record("drpc.fn", q.args, q.startNs, q.endNs, root)
        Trace.record("drpc.reply", q.args, q.endNs, q.doneNs, root)
      }
      Trace.on = false
      val nr = math.max(1, reqs.size).toDouble
      val nb = math.max(1L, stream.batches.get).toDouble
      val m = Layers.empty()
      def phase(k: String) = stream.phases.get(k).map(_.get).getOrElse(0L) / nb
      m("streaming.trigger_ms") = phase("triggerExecution")
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets").foreach(k => m(s"streaming.${k}_ms") = phase(k))
      m("streaming.batches") = stream.batches.get.toDouble
      m("sources.append_ms") = ph.appendNs.get / 1e6 / math.max(1L, ph.appends.get)
      m("sources.lag_batches_max") = ph.lagMax.get.toDouble
      m("state.store_commit_ms") = stream.storeCommitMs.get / nb
      m("state.store_rows") = stream.storeRows.get.toDouble
      m("state.store_updated") = stream.storeUpdated.get / nb
      m("state.store_mem_mb") = stream.storeMem.get / 1048576.0
      m("drpc.queue_wait_ms") = Trace.totalMs("drpc.queue_wait") / nr
      m("drpc.fn_ms") = Trace.totalMs("drpc.fn") / nr
      m("drpc.reply_ms") = Trace.totalMs("drpc.reply") / nr
      m("drpc.jobs_per_request") = exec.groups.get("drpc").map(_.jobs.get).getOrElse(0L) / nr
      m("drpc.queue_depth_max") = ph.depthMax.get.toDouble
      m("drpc.rejected") = ph.rejected.get.toDouble
      m("drpc.timeouts") = ph.timeouts.get.toDouble
      m("drpc.fast_get_us") = Stats.median(p.drpc.fastNs.asScala.toSeq.map(_ / 1000.0))
      m("drpc.fast_hit_frac") = ph.fastHits.get.toDouble / math.max(1L, ph.fastGets.get)
      m("drpc.index_fold_ms") = p.foldNs.get / 1e6 / math.max(1L, p.folds.get)
      m("drpc.job_p50_ms") = Stats.median(jobLat(ph))
      m("drpc.job_p90_ms") = Stats.quantile(jobLat(ph), 0.9)
      m("bench.generator_late_ms") = Stats.quantile(ph.late.asScala.toSeq.map(_.doubleValue), 0.9)
      Layers.exec(m, exec, Seq("stream", "drpc"), nr,
        exec.groups.values.map(_.jobMs.get).sum.toDouble)
      Layers.process(m, gc0, nr)
      m("trace.coverage") = Trace.coverage("request")
      def fresh(x: Phase) = Stats.median(x.fresh.asScala.toSeq.map(_.doubleValue))
      m("trace.overhead_frac") = fresh(ph) / fresh(plain) - 1
      Layers.report(r, m)
    }
    check(p, r, probes)
    // measured once ingest has stopped and every batch is committed: a
    // trigger in flight would hold its batch on the heap
    if (!o.trace) r.metric("heap_retained_mb", Runtime.retainedHeapMb(), "MB")
    r.mark("check")
    p.stop()
  }
}
