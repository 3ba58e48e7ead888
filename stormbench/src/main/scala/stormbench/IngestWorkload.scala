package stormbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkSession, functions => F}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.api.Fields
import graft.sources.BatchLog
import graft.state._
import graft.streaming.StreamRunner

/** `IBackingMap` decorator around the durable store: counts keys and times
  * every call into it while tracing is on. Calls run in executor tasks as
  * well as on the driver; in local mode they share [[Trace]]'s totals. */
final class TimedBacking(inner: ParquetBackingMap[OpaqueValue[Long]], dir: String)
    extends IBackingMap[OpaqueValue[Long]] with ScannableBacking with CommitAwareBacking {

  def multiGet(keys: Seq[Seq[Any]]): Seq[Option[OpaqueValue[Long]]] =
    if (!Trace.on) inner.multiGet(keys)
    else {
      val t0 = System.nanoTime()
      val out = inner.multiGet(keys)
      Trace.add("state.multiGet_ns", System.nanoTime() - t0)
      Trace.add("state.keys_read", keys.size)
      out
    }

  def multiPut(keys: Seq[Seq[Any]], vals: Seq[OpaqueValue[Long]]): Unit =
    if (!Trace.on) inner.multiPut(keys, vals)
    else {
      val t0 = System.nanoTime()
      inner.multiPut(keys, vals)
      Trace.add("state.multiPut_ns", System.nanoTime() - t0)
      Trace.add("state.keys_written", keys.size)
      // the payload: each key and value in the store's own JSON coding
      Trace.add("state.payload_bytes", keys.zip(vals).map { case (k, v) =>
        StateSerializers.keyToJson(k).length +
          StateSerializers.opaqueToJson(v.asInstanceOf[OpaqueValue[Any]]).length + 2L
      }.sum)
    }

  def scanAll(): Seq[(Seq[Any], Any)] = inner.scanAll()

  def onCommit(): Unit =
    if (!Trace.on) inner.onCommit()
    else {
      StoreFiles.scan(dir)
      val t0 = System.nanoTime()
      inner.onCommit()
      Trace.add("state.onCommit_ns", System.nanoTime() - t0)
      StoreFiles.scan(dir)
    }
}

/** Bytes written into a store directory, counted once per file as files
  * appear (WAL segments and snapshots are never rewritten in place). */
object StoreFiles {
  private val seen = mutable.Map[String, Long]()

  def files(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
  }

  def scan(dir: String): Unit = synchronized {
    files(dir).foreach { p =>
      val k = p.toString
      if (!seen.contains(k)) {
        val n = try Files.size(p) catch { case _: java.io.IOException => 0L }
        seen(k) = n
        Trace.add("state.written_bytes", n)
      }
    }
  }

  def bytes(dir: String): Long = files(dir).map(p =>
    try Files.size(p) catch { case _: java.io.IOException => 0L }).sum
}

/** `MapState` wrapper that announces when `commit(txid)` has returned. */
final class ClockedState(inner: MapState[Long]) extends MapState[Long] {
  def multiGet(keys: Seq[Seq[Any]]): Seq[Option[Long]] = inner.multiGet(keys)
  def multiUpdate(keys: Seq[Seq[Any]], updaters: Seq[ValueUpdater[Long]]): Seq[Long] =
    inner.multiUpdate(keys, updaters)
  def multiPut(keys: Seq[Seq[Any]], vals: Seq[Long]): Unit = inner.multiPut(keys, vals)
  def beginCommit(txid: Option[Long]): Unit = inner.beginCommit(txid)
  def commit(txid: Option[Long]): Unit = {
    inner.commit(txid)
    ClockedState.commits.put((txid.getOrElse(-1L), System.nanoTime()))
  }
  override def scanAll(): Seq[(Seq[Any], Any)] = inner.scanAll()
}

object ClockedState {
  val commits = new LinkedBlockingQueue[(Long, Long)]()
}

/** `state-ingest`: README's durable word count. A closed loop appends one
  * seeded micro-batch of sentences to a `BatchLog`, waits until the
  * `commit(txid)` that folds it has returned, and repeats.
  * `StreamRunner.persistentAggregate` folds the words into an `OpaqueMap`
  * over a `ParquetBackingMap` under a `ProcessingTime(0)` trigger. */
object IngestWorkload {
  val Sentences = 50
  val WordsPerSentence = 10
  val Vocabulary = 10000
  val Zipf = 1.0
  val DeadlineS = 30.0

  /** One folded batch: its txid, the ns its append took, and when it was
    * appended and when the commit that folded it returned. */
  final case class Step(txid: Long, appendNs: Long, t0: Long, t1: Long) {
    def ms: Double = (t1 - t0) / 1e6
  }

  final class Pipeline(val spark: SparkSession, val log: String, val dir: String,
                       val query: StreamingQuery, val state: ClockedState, val gen: Gen) {

    /** Append one batch and wait for its commit; None past the deadline. */
    def step(): Option[Step] = {
      val b = gen.batch(Sentences, WordsPerSentence)
      ClockedState.commits.clear()
      val t0 = System.nanoTime()
      BatchLog.append(log, b)
      val t1 = System.nanoTime()
      val c = ClockedState.commits.poll((DeadlineS * 1000).toLong, TimeUnit.MILLISECONDS)
      if (c == null) None
      else {
        gen.fold(b)
        Some(Step(c._1, t1 - t0, t0, c._2))
      }
    }

    def stop(): Unit = {
      query.stop()
      ParquetBackingMap.close(dir)
      BatchLog.drop(log)
      Runtime.stop(spark)
    }
  }

  def start(o: Opts, cores: Int, name: String): Pipeline = {
    val spark = Runtime.session(o, cores)
    val log = s"$name-${o.seed}"
    BatchLog.create(log)
    val dir = o.work.resolve(name).toAbsolutePath.toString
    val store = ParquetBackingMap.open[OpaqueValue[Long]](spark, dir,
      ParquetBackingMap.opaqueCodec)
    val state = new ClockedState(new OpaqueMap[Long](new TimedBacking(store, dir)))
    val words = spark.readStream.format("graft.sources.BatchLogProvider")
      .option("log", log).load()
      .select(F.explode(F.split(F.col("value"), " ")).as("word"))
    val q = StreamRunner.persistentAggregate[Long](words, Fields("word"),
      F.count(F.lit(1)), _ + _, state, name, Trigger.ProcessingTime(0L))
    val p = new Pipeline(spark, log, dir, q, state, new Gen(o.seed, Vocabulary, Zipf))
    require(p.step().isDefined, "first batch was not committed")
    p
  }

  /** Untimed batches for at least `minS`, then until two successive groups
    * of five agree within 15% on their median latency. */
  def warm(p: Pipeline, minS: Double, maxS: Double): Int = {
    val lat = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    def med(xs: Seq[Double]) = Stats.median(xs)
    def secs = (System.nanoTime() - t0) / 1e9
    while (lat.size < 10 || secs < minS || (lat.size < 100 && secs < maxS && {
      val a = med(lat.takeRight(10).take(5).toSeq); val b = med(lat.takeRight(5).toSeq)
      math.abs(a - b) > 0.15 * a
    })) {
      lat += p.step().getOrElse(sys.error("warm-up batch was not committed")).ms
    }
    lat.size
  }

  final case class Window(latMs: Seq[Double], words: Long, steps: Seq[Step]) {
    /** Words folded per second of commit latency. */
    def wordsPerS: Double = words / (latMs.sum / 1000)
  }

  /** Timed batches until their summed commit latency reaches `secs`. */
  def window(p: Pipeline, r: Result, secs: Double): Window = {
    val lat = mutable.ArrayBuffer[Double]()
    val steps = mutable.ArrayBuffer[Step]()
    var words = 0L
    while (lat.sum < secs * 1000) {
      r.attempted += 1
      p.step() match {
        case Some(s) =>
          lat += s.ms
          steps += s
          words += Sentences * WordsPerSentence
        case None =>
          r.failed += 1
          r.error(s"batch not committed within $DeadlineS s")
          return Window(lat.toSeq, words, steps.toSeq)
      }
    }
    Window(lat.toSeq, words, steps.toSeq)
  }

  /** Final state, read through `OpaqueMap` and through the store's files,
    * against the generator's own counts. */
  def check(p: Pipeline, r: Result): Unit = {
    val want = p.gen.counts
    val keys = want.keys.toVector
    val got = p.state.multiGet(keys.map(k => Seq(k)))
    val bad = keys.zip(got).count { case (k, g) => !g.contains(want(k)) }
    if (bad > 0) r.error(s"OpaqueMap: $bad of ${keys.size} words hold a wrong count")
    val scanned = p.state.scanAll().size
    if (scanned != keys.size) r.error(s"OpaqueMap holds $scanned keys, expected ${keys.size}")
    val files = ParquetBackingMap.readAsDF(p.spark, p.dir).collect().map { row =>
      val k = StateSerializers.keyFromJson(row.getString(0)).head.toString
      val v = StateSerializers.opaqueFromJson(row.getString(1)).curr match {
        case n: Number => n.longValue
        case _ => -1L
      }
      k -> v
    }.toMap
    if (files != want.toMap)
      r.error(s"ParquetBackingMap.readAsDF disagrees with the generator on " +
        s"${(files.keySet ++ want.keySet).count(k => files.get(k) != want.get(k))} words")
  }

  def run(o: Opts, r: Result): Unit = {
    var n = 0
    // five set-ups, as they are cheap here: the median then ignores one
    // slow warm set-up as well as the cold first one
    val (p, setupS, setups) = Runtime.setUp(5) {
      n += 1
      start(o, o.cores, s"ingest$n")
    }(_.stop())
    r.metric("setup_s", setupS, "s", setups.size)
    r.props("setups_s") = setups.map(x => f"$x%.3f").mkString(" ")
    r.mark("setup")
    val stream = new StreamListener
    p.spark.streams.addListener(stream)
    val exec = new ExecListener
    p.spark.sparkContext.addSparkListener(exec)
    r.props("warm_batches") = warm(p, o.seconds / 2, 2 * o.seconds)
    r.mark("warm")
    p.gen.resetShape()

    if (!o.trace) {
      val w = window(p, r, o.seconds)
      r.metric("latency_p50_ms", Stats.median(w.latMs), "ms", w.latMs.size)
      r.metric("latency_p90_ms", Stats.quantile(w.latMs, 0.9), "ms", w.latMs.size)
      r.metric("throughput_per_s", w.wordsPerS, "1/s", w.latMs.size)
      r.metric("heap_retained_mb", Runtime.retainedHeapMb(), "MB")
      r.mark("window")
      p.gen.props(r, "")
      check(p, r)
      r.mark("check")
      p.stop()
    } else {
      val plain = window(p, r, o.seconds / 2)
      Runtime.drain(p.spark)
      exec.reset(); stream.reset(); Trace.reset()
      val gc0 = Runtime.gcMs()
      Runtime.resetHeapPeak()
      Trace.on = true
      val wallOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
      val traced = window(p, r, o.seconds / 2)
      Trace.on = false
      Runtime.drain(p.spark)
      val nb = traced.latMs.size.toDouble
      val m = Layers.empty()
      // spans: the batch, its append, and the trigger phases on its blocking
      // path - those of the trigger that folded it, and the tail of the one
      // before, which must finish before the next trigger can start
      val phases = stream.triggers.asScala.map { case (startMs, txid, ph) =>
        var at = startMs * 1000000L - wallOffset
        txid -> Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
            "commitOffsets").map { k =>
          val d = ph.getOrElse(k, 0L) * 1000000L
          at += d
          (s"streaming.$k", at - d, at)
        }
      }.toMap
      Trace.on = true
      traced.steps.foreach { case Step(txid, appendNs, t0, t1) =>
        val root = Trace.record("batch", s"b$txid", t0, t1)
        Trace.record("sources.append", s"b$txid", t0, t0 + appendNs, root)
        Seq(txid - 1, txid).flatMap(phases.get).flatten.foreach { case (k, a, b) =>
          if (b > t0 && a < t1) Trace.record(k, s"b$txid", a, b, root)
        }
      }
      Trace.on = false
      def phase(k: String) = stream.phases.get(k).map(_.get).getOrElse(0L) / nb
      m("streaming.trigger_ms") = phase("triggerExecution")
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets").foreach(k => m(s"streaming.${k}_ms") = phase(k))
      m("streaming.batches") = stream.batches.get.toDouble
      m("sources.append_ms") = Trace.totalMs("sources.append") / nb
      m("sources.lag_batches_max") = 1.0 // closed loop: one batch outstanding
      m("state.multiGet_ms") = Trace.counter("state.multiGet_ns") / 1e6 / nb
      m("state.multiPut_ms") = Trace.counter("state.multiPut_ns") / 1e6 / nb
      m("state.onCommit_ms") = Trace.counter("state.onCommit_ns") / 1e6 / nb
      m("state.keys_read") = Trace.counter("state.keys_read") / nb
      m("state.keys_written") = Trace.counter("state.keys_written") / nb
      m("state.disk_mb") = StoreFiles.bytes(p.dir) / 1048576.0
      m("state.write_mb") = Trace.counter("state.written_bytes") / 1048576.0 / nb
      m("state.write_amp") = Trace.counter("state.written_bytes").toDouble /
        math.max(1L, Trace.counter("state.payload_bytes"))
      Layers.exec(m, exec, Seq("stream"), nb,
        exec.groups.get("stream").map(_.jobMs.get).getOrElse(0L).toDouble)
      Layers.process(m, gc0, nb)
      m("trace.coverage") = Trace.coverage("batch")
      m("trace.overhead_frac") = Stats.median(traced.latMs) / Stats.median(plain.latMs) - 1
      check(p, r)
      p.stop()
      // single-core baseline: the same loop at local[1]
      val one = start(o, 1, "ingest1core")
      warm(one, 0, o.seconds)
      val w1 = window(one, new Result, o.seconds / 2)
      one.stop()
      m("exec.speedup_vs_1core") = plain.wordsPerS / w1.wordsPerS
      Layers.report(r, m)
    }
  }
}
