package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import graft.drpc.{DRPCExecutionException, DRPCService, LocalDRPC}

/** The DRPC daemon semantics (`daemon/drpc.clj:48-123`): execute blocks its
  * caller, concurrent requests stay isolated, slow requests hit the timeout
  * loop, and the same surface answers over HTTP. */
class DRPCServiceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def newDrpc(): LocalDRPC = {
    // first Spark job in a cold JVM costs ~0.8s of classloading/JIT — warm
    // it outside the request timeout windows these tests assert on
    spark.range(1).select(F.length(F.lit("x"))).collect()
    val drpc = new LocalDRPC(spark)
    drpc.register("wordlen", { args =>
      spark.range(1).select(F.lit(args).as("args"),
        F.length(F.lit(args)).cast("long").as("len"))
    })
    drpc.register("slow", { args =>
      // sleeps far past every test's request timeout (2.5 s): the timeout
      // sweeper must fire first with wide margin even on a loaded VM; the
      // worker thread holding this sleep is a daemon, so stop() never
      // waits on it
      Thread.sleep(10000L)
      spark.range(1).select(F.lit(args).as("args"))
    })
    drpc
  }

  test("two concurrent requests are isolated; a slow one times out") {
    // 2.5 s timeout: >> a warm wordlen collect (~50 ms) even under CPU
    // contention, << the slow handler's 10 s sleep — load-independent in
    // both directions (the r9 flake-hardening pass)
    val svc = new DRPCService(newDrpc(), requestTimeoutMs = 2500L).start(workers = 3)
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val a = Future(svc.execute("wordlen", "abc"))
      val b = Future(svc.execute("wordlen", "longer-args"))
      val slow = Future(svc.execute("slow", "x"))
      assert(Await.result(a, 30.seconds) == "[[\"abc\",3]]")
      assert(Await.result(b, 30.seconds) == "[[\"longer-args\",11]]")
      val err = intercept[DRPCExecutionException] { Await.result(slow, 30.seconds) }
      assert(err.getMessage.contains("timed out"))
      assert(svc.pendingCount == 0)
    } finally svc.stop()
  }

  test("unknown function fails the request with a reason") {
    val svc = new DRPCService(newDrpc(), requestTimeoutMs = 5000L).start(workers = 1)
    try {
      val err = intercept[DRPCExecutionException] { svc.execute("nope", "x") }
      assert(err.getMessage.contains("unknown DRPC function"))
    } finally svc.stop()
  }

  test("a function failing mid-request surfaces DRPCExecutionException — drpc_test.clj fail-finish") {
    val drpc = newDrpc()
    drpc.register("fail2", _ => throw new RuntimeException("bolt failed the tuple"))
    val svc = new DRPCService(drpc, requestTimeoutMs = 5000L).start(workers = 1)
    try {
      val err = intercept[DRPCExecutionException] { svc.execute("fail2", "2") }
      assert(err.getMessage.contains("bolt failed the tuple"))
      assert(svc.pendingCount == 0) // the failed request is fully cleaned up
    } finally svc.stop()
  }

  test("DP release behind DRPC: fresh per-release noise under concurrency, budget enforced across the fair queues (VERDICT r12 #7)") {
    // the composition surface a live privacy endpoint exercises: one
    // accountant guards a released table behind a DRPC function; 6
    // concurrent callers race the budget (e^eps <= 2^4 = 4 count
    // releases), each successful release must draw FRESH noise (its own
    // release index), and the over-budget callers must fail loudly
    // WITHOUT a release
    import spark.implicits._
    val drpc = new LocalDRPC(spark)
    val df = Seq("a", "a", "a", "b").toDF("g")
    val budget = new graft.functions.DpBudget(BigInt(2).pow(4), baseSeed = 50L)
    drpc.register("dp_count", { _ =>
      budget.noisyCounts(df, Seq("g")).orderBy("g") })
    val svc = new DRPCService(drpc, requestTimeoutMs = 30000L).start(workers = 3)
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.util.Try
      val results = Await.result(
        Future.sequence((1 to 6).map(_ =>
          Future(Try(svc.execute("dp_count", ""))))), 120.seconds)
      val (ok, fail) = results.partition(_.isSuccess)
      assert(ok.size == 4, s"releases: ${ok.size}")
      assert(fail.size == 2)
      fail.foreach { f =>
        val ex = intercept[DRPCExecutionException](f.get)
        assert(ex.getMessage.contains("DP budget exhausted"))
      }
      assert(budget.spentFactor == BigInt(16)) // exactly 4 charges stuck
      // release-index isolation: the four successes are exactly the
      // replays of seeds baseSeed+1..+4 — one each, no reuse (reused
      // noise across releases would be the composition bug)
      def render(seed: Long): String = {
        val rows = graft.functions.Stats.dpNoisyCounts(df, Seq("g"), seed)
          .orderBy("g").collect()
        rows.map(r => s"""["${r.getString(0)}",${r.getLong(1)}]""")
          .mkString("[", ",", "]")
      }
      val expected = (1L to 4L).map(i => render(50L + i))
      assert(ok.map(_.get).sorted == expected.sorted,
        s"got ${ok.map(_.get)} want $expected")
      assert(svc.pendingCount == 0)
    } finally svc.stop()
  }

  test("manual worker face: fetchRequest → result completes the blocked caller") {
    // no built-in workers: an external topology drains the queue, the
    // reference's DRPCSpout/ReturnResults contract
    val svc = new DRPCService(newDrpc(), requestTimeoutMs = 5000L)
    val sweeperless = new Thread(() => {
      var served = false
      while (!served) {
        svc.fetchRequest("manual") match {
          case Some((id, args)) => svc.result(id, s"[[\"$args-served\"]]"); served = true
          case None => Thread.sleep(10L)
        }
      }
    })
    sweeperless.setDaemon(true); sweeperless.start()
    assert(svc.execute("manual", "req") == "[[\"req-served\"]]")
  }

  test("fair dispatch: a burst of one function does not starve another (KeyedFairBolt)") {
    // single worker, one slow-ish function flooded with 100 requests, then
    // one request of a second function: round-robin across the per-function
    // sub-queues must serve fn B within one service cycle (~1 A request),
    // not after the whole A backlog
    val drpc = new LocalDRPC(spark)
    val served = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    drpc.register("flood", { args =>
      served.add(s"flood:$args"); Thread.sleep(20L)
      spark.range(1).toDF("r")
    })
    drpc.register("single", { args =>
      served.add(s"single:$args")
      spark.range(1).toDF("r")
    })
    val svc = new DRPCService(drpc, requestTimeoutMs = 60000L)
    // every execute() blocks its thread, so the flood needs an unbounded pool
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val floods = (1 to 100).map(i => Future(svc.execute("flood", i.toString)))
      // let the flood fully enqueue before the worker starts and B arrives
      eventually(svc.queuedCount >= 100)
      val single = Future(svc.execute("single", "b"))
      eventually(svc.queuedCount >= 101)
      svc.start(workers = 1)
      Await.result(single, 30.seconds)
      val order = served.toArray(Array.empty[String]).toSeq
      val pos = order.indexWhere(_.startsWith("single:"))
      assert(pos >= 0 && pos <= 2,
        s"fn B served at position $pos — starved behind the fn A backlog: ${order.take(5)}")
      floods.foreach(f => Await.result(f, 60.seconds))
    } finally { svc.stop(); pool.shutdownNow() }
  }

  private def eventually(cond: => Boolean, timeoutMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(10L)
    assert(cond, "condition not met within timeout")
  }

  test("HTTP face: 200 on success, 404 unknown, 408 timeout") {
    val svc = new DRPCService(newDrpc(), requestTimeoutMs = 2500L).start(workers = 2)
    val port = svc.startHttp()
    def post(fn: String, body: String): (Int, String) = {
      val conn = new java.net.URL(s"http://127.0.0.1:$port/drpc/$fn")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes("UTF-8"))
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val out = new String(is.readAllBytes(), "UTF-8")
      (code, out)
    }
    try {
      assert(post("wordlen", "hey") == ((200, "[[\"hey\",3]]")))
      assert(post("nope", "x")._1 == 404)
      assert(post("slow", "x")._1 == 408)
    } finally svc.stop()
  }

  test("HTTP golden: the reference's DRPC word-count session, served over the JSON wire") {
    // integration_test.clj:55-86 verbatim: feed two sentence batches into a
    // persistent word count, then drive execute("words", ...) as an external
    // client — here through the HTTP face (the reference serves thrift; the
    // engine serves HTTP/JSON — same execute/result semantics, different
    // framing, documented in the README's DRPC section).
    import graft.api._
    import graft.state._
    import graft.streaming.StreamRunner
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import spark.implicits._
    MemoryBackingMap.clear("drpc-golden")
    val state = new OpaqueMap[Long](new MemoryBackingMap[OpaqueValue[Long]]("drpc-golden"))
    var txid = 0L
    def feed(sentences: String*): Unit = {
      val words = sentences.flatMap(_.split(" ")).toDF("word")
      StreamRunner.applyBatch[Long](words, txid, Fields("word"),
        F.count(F.lit(1)).as("cnt"), _ + _, state)
      txid += 1
    }
    val tstate = new TridentState[Long](state, "drpc-golden", Fields("word"), "cnt")
    val drpc = new LocalDRPC(spark)
    drpc.register("words", args => {
      // split(args) → stateQuery(word-counts, MapGet) → FilterNull → Sum
      val counts = tstate.newValuesStream(spark, StructType(Seq(
        StructField("word", StringType), StructField("cnt", LongType)))).toDF
      new Stream(spark.createDataset(args.split(" ").toSeq).toDF("word"))
        .stateQuery(StaticState(counts, Fields("word"), Fields("cnt")),
          Fields("word"), Fields("cnt"))
        .filterNull(Fields("cnt"))
        .aggregate(F.sum("cnt").as("sum"))
        .toDF
    })
    val svc = new DRPCService(drpc, requestTimeoutMs = 30000L).start(workers = 2)
    val port = svc.startHttp()
    def post(fn: String, body: String): (Int, String) = {
      val conn = new java.net.URL(s"http://127.0.0.1:$port/drpc/$fn")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes("UTF-8"))
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val out = new String(is.readAllBytes(), "UTF-8")
      (code, out)
    }
    try {
      feed("hello the man said", "the")
      assert(post("words", "the") == ((200, "[[2]]")))
      assert(post("words", "hello") == ((200, "[[1]]")))
      feed("the man on the moon", "where are you")
      assert(post("words", "the") == ((200, "[[4]]")))
      assert(post("words", "man") == ((200, "[[2]]")))
      assert(post("words", "man where you the") == ((200, "[[8]]")))
    } finally {
      svc.stop()
      MemoryBackingMap.clear("drpc-golden")
    }
  }

  test("concurrent DRPC lookups against live state: all 12 requests answer, percentiles ordered") {
    // the bench's drpc_concurrent drill at spec size: 4 threads x 12
    // keyed lookups over a live 300-key store, served by the keyed fast
    // path (r14). The drill itself REQUIREs fast==job parity on a key
    // sample, refresh-on-commit visibility, and every request's payload;
    // here the order statistics must be sane on top
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (p50, p99, setup) =
        graft.tools.Drills.drpcStateQueryConcurrent(spark, 300, 4, 12)
      assert(p50 > 0.0 && p99 >= p50, s"p50=$p50 p99=$p99")
      assert(setup > 0.0)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("DRPC over a LIVE streaming query's state store: snapshot-consistent mid-stream reads") {
    // The reference's stateQuery against a running topology's store, with
    // beginCommit/commit isolation: a DRPC read sees the last COMMITTED
    // batch, never a half-applied one. Here the topology is a running
    // transformWithState word count; the DRPC function reads its store
    // through the state data source at the checkpoint's last commit.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ck = java.nio.file.Files.createTempDirectory("drpc-live-ck").toString
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
    val drpc = new LocalDRPC(spark)
    // args = space-separated words → [word, count] per word, counts-at-commit
    graft.drpc.LiveStateDrpc.registerStateQuery(drpc, spark, "wc_live", ck, "agg") {
      (state, args) =>
        val asked = spark.createDataset(args.split(" ").toSeq).toDF("word")
        asked.join(
          state.select(F.col("key.value").as("word"), F.col("value.value").as("cnt")),
          Seq("word"), "left")
          .select(F.col("word"), F.coalesce(F.col("cnt"), F.lit(0L)).as("cnt"))
          .orderBy("word")
    }
    val svc = new DRPCService(drpc, requestTimeoutMs = 30000L).start(workers = 2)
    val port = svc.startHttp()
    def post(fn: String, body: String): (Int, String) = {
      val conn = new java.net.URL(s"http://127.0.0.1:$port/drpc/$fn")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes("UTF-8"))
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val out = new String(is.readAllBytes(), "UTF-8")
      (code, out)
    }
    try {
      input.addData("the man the moon")
      q.processAllAvailable()
      assert(q.isActive)
      // mid-stream read: batch-0 state exactly (the=2, man=1, absent=0)
      assert(post("wc_live", "the man nope") ==
        ((200, "[[\"man\",1],[\"nope\",0],[\"the\",2]]")))
      // next commit becomes visible atomically
      input.addData("the sun")
      q.processAllAvailable()
      assert(q.isActive)
      assert(post("wc_live", "the sun man") ==
        ((200, "[[\"man\",1],[\"sun\",1],[\"the\",3]]")))
      // a request must not stall the RUNNING query (and vice versa): hammer
      // reads from a background thread while five more batches trigger and
      // commit — every read succeeds with a committed snapshot, and the
      // stream advances to the final count while reads are in flight
      val codes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val reader = new Thread(() =>
        while (!Thread.interrupted())
          try codes.add(post("wc_live", "the")._1)
          catch { case _: InterruptedException => Thread.currentThread().interrupt() })
      reader.start()
      try
        (1 to 5).foreach { _ =>
          input.addData("the")
          q.processAllAvailable()
          assert(q.isActive, "query stalled while DRPC reads were in flight")
        }
      finally { reader.interrupt(); reader.join(10000) }
      assert(codes.size > 0, "no concurrent reads completed")
      import scala.jdk.CollectionConverters._
      assert(codes.asScala.forall(_ == 200), s"non-200 during live reads: $codes")
      assert(post("wc_live", "the") == ((200, "[[\"the\",8]]")))
    } finally {
      svc.stop()
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(ck))
    }
  }

  test("saturation drill at spec size: fast tier answers under a full queue, rejections counted") {
    // the bench's drpc_saturated face, small: 4 blocking producers against
    // a 2-slot queue (2 claimed by workers, 2 competing for the queue), 2
    // fast threads x 200 lookups — the drill REQUIREs saturation and every
    // lookup's payload; here: sane order statistics and slow-tier progress
    val (p50, p99, slowSec, completedN, rejectedN) =
      graft.tools.Drills.drpcSaturation(spark, nKeys = 300, fastReqs = 200,
        fastThreads = 2, slowThreads = 4, queueSize = 2)
    assert(p50 >= 0.0 && p99 >= p50, s"p50=$p50 p99=$p99")
    assert(completedN > 0L, "no slow jobs completed")
    assert(slowSec > 0.0)
    assert(rejectedN >= 0L) // 2 producers may exactly fit a 4-slot queue
  }

  test("StateIndex: versioned atomic deltas, idempotent replay, monotone version") {
    val idx = new graft.drpc.StateIndex[String, Long]
    assert(idx.version == -1L && idx.size == 0 && idx.get("a").isEmpty)
    idx.applyDelta(0L, Seq("a" -> 1L, "b" -> 2L))
    assert(idx.version == 0L && idx.get("a").contains(1L) && idx.get("b").contains(2L))
    // absolute-value upsert: a foreachBatch REPLAY of the same batch is a no-op
    idx.applyDelta(0L, Seq("a" -> 1L, "b" -> 2L))
    assert(idx.version == 0L && idx.size == 2 && idx.get("a").contains(1L))
    // next commit's delta: changed keys only, version advances
    idx.applyDelta(1L, Seq("a" -> 5L))
    assert(idx.version == 1L && idx.get("a").contains(5L) && idx.get("b").contains(2L))
    // a reader's snapshot is one version — never a half-applied delta
    val (v, m) = idx.snapshot
    assert(v == 1L && m == Map("a" -> 5L, "b" -> 2L))
    // a LATE delta (batch id older than the applied version) is dropped
    // whole — its stale values must not regress newer state, and versions
    // never move backwards (ADVICE r14: bootstrap racing a live fold)
    idx.applyDelta(0L, Seq("c" -> 9L))
    assert(idx.version == 1L && idx.get("c").isEmpty)
    // driver-memory guard: a delta past maxKeys throws LOUDLY and leaves
    // the served snapshot untouched (readers keep the prior version)
    val bounded = new graft.drpc.StateIndex[String, Long](maxKeys = 2)
    bounded.applyDelta(0L, Seq("a" -> 1L, "b" -> 2L))
    intercept[IllegalStateException] {
      bounded.applyDelta(1L, Seq("c" -> 3L))
    }
    assert(bounded.size == 2 && bounded.version == 0L && bounded.get("c").isEmpty)
    // an update to EXISTING keys still lands at the bound
    bounded.applyDelta(1L, Seq("a" -> 5L))
    assert(bounded.get("a").contains(5L) && bounded.version == 1L)
  }

  test("StateIndex eviction tier: least-recently-updated keys drop at the bound; an evicted key reads through to the job path with the identical result (VERDICT r14 #2)") {
    // eviction mechanics: update recency (a re-written key survives)
    val idx = new graft.drpc.StateIndex[String, Long](maxKeys = 3,
      evictOldest = true)
    idx.applyDelta(0L, Seq("a" -> 1L, "b" -> 2L, "c" -> 3L))
    assert(idx.isAuthoritative && idx.evictedCount == 0L)
    idx.applyDelta(1L, Seq("a" -> 10L)) // touch a: now b is the oldest
    idx.applyDelta(2L, Seq("d" -> 4L))  // over budget: b evicts
    assert(idx.size == 3 && idx.get("b").isEmpty && idx.get("a").contains(10L)
      && idx.get("c").contains(3L) && idx.get("d").contains(4L))
    assert(idx.evictedCount == 1L && !idx.isAuthoritative)
    // serving: hit -> fast; miss on the now-non-authoritative index ->
    // the SAME name's job-path registration answers, identical wire result
    val table = Seq("a" -> 10L, "b" -> 2L, "c" -> 3L, "d" -> 4L)
    val jobCalls = new java.util.concurrent.atomic.AtomicLong(0L)
    val drpc = newDrpc()
    drpc.register("kv_get", { args =>
      jobCalls.incrementAndGet()
      import spark.implicits._
      table.toDF("k", "v").where(F.col("k") === args).select("v")
    })
    drpc.registerMapGet("kv_get", idx, identity[String])
    val svc = new DRPCService(drpc, requestTimeoutMs = 30000L).start(workers = 1)
    try {
      assert(svc.execute("kv_get", "a") == "[[10]]")
      assert(jobCalls.get() == 0L, "an index hit must not run a job")
      assert(svc.execute("kv_get", "b") == "[[2]]") // evicted: job read-through
      assert(jobCalls.get() == 1L, "an evicted-key miss must read through")
      // absent key on a non-authoritative index also reads through (a miss
      // is ambiguous) and the job's empty result is the answer
      assert(svc.execute("kv_get", "nope") == "[]")
      assert(jobCalls.get() == 2L)
      // parity with the raw job face on every key
      (table.map(_._1) :+ "nope").foreach { k =>
        val job = drpc.executeDF("kv_get", k).collect()
          .map(r => s"[[${r.getLong(0)}]]").headOption.getOrElse("[]")
        assert(svc.execute("kv_get", k) == job, s"read-through divergence on '$k'")
      }
    } finally svc.stop()
    // the authoritative (non-evicting) default still answers [] inline
    val auth = new graft.drpc.StateIndex[String, Long](maxKeys = 3)
    val drpc2 = newDrpc()
    val jobCalls2 = new java.util.concurrent.atomic.AtomicLong(0L)
    drpc2.register("kv2_get", { args =>
      jobCalls2.incrementAndGet()
      import spark.implicits._
      table.toDF("k", "v").where(F.col("k") === args).select("v")
    })
    drpc2.registerMapGet("kv2_get", auth, identity[String])
    auth.applyDelta(0L, Seq("a" -> 1L))
    assert(drpc2.execute("kv2_get", "zz") == "[]" && jobCalls2.get() == 0L)
  }

  test("cached state-query job path: snapshot reused between commits == fresh statestore read across a commit (VERDICT r14 #3)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ck = java.nio.file.Files.createTempDirectory("drpc-cache-ck").toString
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
    val drpc = newDrpc()
    def shape(state: org.apache.spark.sql.DataFrame, args: String) =
      state.where(F.col("key.value") === args)
        .select(F.col("value.value").as("cnt"))
    graft.drpc.LiveStateDrpc.registerStateQuery(
      drpc, spark, "wc_fresh", ck, "agg")(shape)
    val snap = graft.drpc.LiveStateDrpc.registerStateQueryCached(
      drpc, spark, "wc_cached", ck, "agg")(shape)
    try {
      input.addData("the man the moon the")
      q.processAllAvailable()
      val v1 = snap.latestCommittedBatch()
      assert(v1 >= 0L)
      // cached == fresh on every key, repeated reads reuse one snapshot
      Seq("the", "man", "moon", "nope").foreach { k =>
        assert(drpc.execute("wc_cached", k) == drpc.execute("wc_fresh", k),
          s"cached/fresh divergence on '$k' before commit")
      }
      assert(snap.latestCommittedBatch() == v1)
      // a new COMMIT invalidates the snapshot: the cached face must serve
      // the post-commit values, still equal to a fresh read
      input.addData("moon moon")
      q.processAllAvailable()
      assert(snap.latestCommittedBatch() > v1)
      assert(drpc.execute("wc_cached", "moon") == "[[3]]")
      Seq("the", "man", "moon", "nope").foreach { k =>
        assert(drpc.execute("wc_cached", k) == drpc.execute("wc_fresh", k),
          s"cached/fresh divergence on '$k' after commit")
      }
    } finally {
      snap.close()
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(ck))
    }
  }

  test("plan-cached job path (r16): substituted-literal answers == fresh across keys AND across a commit; folded-marker shapes downgrade correctly") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ck = java.nio.file.Files.createTempDirectory("drpc-plan-ck").toString
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
    val drpc = newDrpc()
    graft.drpc.LiveStateDrpc.registerStateQuery(
      drpc, spark, "pc_fresh", ck, "agg") { (state, args) =>
      state.where(F.col("key.value") === args)
        .select(F.col("value.value").as("cnt"))
    }
    val snap = graft.drpc.LiveStateDrpc.registerStateQueryPlanCached(
      drpc, spark, "pc_cached", ck, "agg") { (state, arg) =>
      state.where(F.col("key.value") === arg)
        .select(F.col("value.value").as("cnt"))
    }
    // a shape that FOLDS the marker into a bigger constant (the optimizer
    // folds concat(lit, lit)) — the cache must DETECT the fold and
    // downgrade to per-request builds, not serve marker-derived answers
    val snap2 = graft.drpc.LiveStateDrpc.registerStateQueryPlanCached(
      drpc, spark, "pc_folded", ck, "agg") { (state, arg) =>
      state.where(F.col("key.value") === F.concat(F.lit("x"), arg))
        .select(F.col("value.value").as("cnt"))
    }
    graft.drpc.LiveStateDrpc.registerStateQuery(
      drpc, spark, "pc_folded_fresh", ck, "agg") { (state, args) =>
      state.where(F.col("key.value") === F.concat(F.lit("x"), F.lit(args)))
        .select(F.col("value.value").as("cnt"))
    }
    try {
      input.addData("the man the moon the xthe xman xthe")
      q.processAllAvailable()
      Seq("the", "man", "moon", "nope").foreach { k =>
        assert(drpc.execute("pc_cached", k) == drpc.execute("pc_fresh", k),
          s"plan-cached divergence on '$k'")
        // the downgraded face must return the REAL prefixed-key counts
        assert(drpc.execute("pc_folded", k) ==
          drpc.execute("pc_folded_fresh", k), s"folded-shape divergence on '$k'")
      }
      assert(drpc.execute("pc_folded", "the") == "[[2]]")
      // a commit invalidates both the snapshot and the cached plan
      input.addData("moon moon")
      q.processAllAvailable()
      assert(drpc.execute("pc_cached", "moon") == "[[3]]")
      Seq("the", "man", "moon", "nope").foreach { k =>
        assert(drpc.execute("pc_cached", k) == drpc.execute("pc_fresh", k),
          s"post-commit plan-cached divergence on '$k'")
      }
    } finally {
      snap.close(); snap2.close()
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(ck))
    }
  }

  test("keyed fast path: fast == job path over a live query, refresh on commit, inline under a jammed queue (VERDICT r13 #1)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ck = java.nio.file.Files.createTempDirectory("drpc-fast-ck").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val counts = graft.streaming.StateStoreRunner.runningCount[String, String](
      input.toDS().flatMap(_.split(" ").iterator.filter(_.nonEmpty)), identity)
    val index = new graft.drpc.StateIndex[String, Long]
    val q = counts.writeStream.outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Long)], id: Long) =>
        graft.drpc.StateIndex.foldBatch(index)(b, id); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .start()
    val drpc = newDrpc()
    // job face: per-request statestore read at last commit
    graft.drpc.LiveStateDrpc.registerStateQuery(drpc, spark, "wc_get", ck, "agg") {
      (state, args) =>
        state.where(F.col("key.value") === args)
          .select(F.col("value.value").as("cnt"))
    }
    // fast face, same name: execute() serves the index, executeDF() the job
    drpc.registerMapGet("wc_get", index, identity[String])
    val svc = new DRPCService(drpc, requestTimeoutMs = 30000L, maxQueueSize = 2)
      .start(workers = 1)
    try {
      input.addData("the man the moon the man")
      q.processAllAvailable()
      assert(index.version >= 0L)
      // fast == job for present and absent keys (the parity contract)
      Seq("the", "man", "moon", "nope").foreach { k =>
        val job = drpc.executeDF("wc_get", k).collect()
          .map(r => s"[[${r.getLong(0)}]]").headOption.getOrElse("[]")
        assert(drpc.execute("wc_get", k) == job, s"fast/job divergence on '$k'")
      }
      assert(svc.execute("wc_get", "the") == "[[3]]")
      // refresh-on-commit: the next committed batch's delta reaches the
      // fast path; untouched keys keep their values
      input.addData("moon moon")
      q.processAllAvailable()
      assert(svc.execute("wc_get", "moon") == "[[3]]")
      assert(svc.execute("wc_get", "the") == "[[3]]")
      assert(svc.execute("wc_get", "absent") == "[]")
      // jam the single worker and fill the whole queue with slow requests —
      // keyed lookups must still answer inline (no queue, no worker), and
      // the NEXT slow request must 503 while the fast one does not
      drpc.register("napping", { args =>
        Thread.sleep(3000L); spark.range(1).select(F.lit(args).as("args"))
      })
      // plain threads, not the global EC — deterministic start under any
      // suite ordering (an EC backed up by earlier suites starved the
      // enqueue and the wait below saw an empty queue)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      val nappers = (1 to 3).map { i =>
        val t = new Thread(() =>
          try svc.execute("napping", s"s$i")
          catch { case _: Throwable => () }, s"drpc-fast-napper-$i")
        t.start()
        // the worker claims the first before the others arrive: were all
        // three queued at once, the third would be refused (the bound
        // counts queued requests) and the queue would hold 2 only until
        // the first claim
        if (i == 1) while ((svc.pendingCount < 1 || svc.queuedCount > 0) &&
            System.nanoTime() < deadline) Thread.sleep(1)
        t
      }
      // wait until the backlog is actually full (1 claimed + 2 queued)
      while (svc.queuedCount < 2 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(svc.queuedCount >= 2, "queue never filled")
      intercept[DRPCExecutionException] { svc.execute("wordlen", "overflow") }
      val t0 = System.nanoTime()
      assert(svc.execute("wc_get", "the") == "[[3]]")
      val fastMs = (System.nanoTime() - t0) / 1e6
      assert(fastMs < 1000.0, f"fast path took $fastMs%.1fms under a jammed queue")
      nappers.foreach(_.join(60000))
    } finally {
      svc.stop()
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(ck))
    }
  }
}
