package stormbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options, as `run.py` passes them. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, data: Path, cores: Int, spans: Option[Path])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("data")), m("cores").toInt,
      m.get("spans").map(Paths.get(_)))
  }
}

/** What one run reports: metric values with units and sample counts,
  * operation counts, input properties and the oracle checks left for
  * `run.py`. Written as JSON into the work dir. */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String, Int)]()
  val props = mutable.LinkedHashMap[String, Any]()
  val errors = mutable.ArrayBuffer[String]()
  /** (query, oracle sql, result dir, executions) checked after the run. */
  val oracle = mutable.ArrayBuffer[(String, String, String, Long)]()
  var attempted = 0L
  var failed = 0L
  private var lastMark = System.nanoTime()
  private val phases = mutable.ArrayBuffer[String]()

  /** Note the wall seconds since the previous mark under `phase`. */
  def mark(phase: String): Unit = {
    val now = System.nanoTime()
    phases += f"$phase=${(now - lastMark) / 1e9}%.1f"
    props("phase_s") = phases.mkString(" ")
    lastMark = now
  }

  def metric(name: String, value: Double, unit: String, n: Int = 1): Unit =
    metrics(name) = (value, unit, n)

  def error(msg: String): Unit = { System.err.println(s"[stormbench] $msg"); errors += msg }

  private def js(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => js(f.toDouble)
    case xs: Seq[_] => xs.map(js).mkString("[", ",", "]")
    case other => other.toString
  }

  def write(path: Path): Unit = {
    val ms = metrics.map { case (k, (v, u, n)) =>
      s"${js(k)}:{${js("value")}:${js(v)},${js("unit")}:${js(u)},${js("n")}:$n}"
    }.mkString("{", ",", "}")
    val ps = props.map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString("{", ",", "}")
    val os = oracle.map { case (q, sql, dir, n) =>
      s"""{"query":${js(q)},"sql":${js(sql)},"dir":${js(dir)},"executions":$n}"""
    }.mkString("[", ",", "]")
    val body = s"""{"attempted":$attempted,"failed":$failed,"errors":${js(errors.toSeq)},""" +
      s""""metrics":$ms,"props":$ps,"oracle":$os}"""
    Files.write(path, body.getBytes("UTF-8"))
    ()
  }
}

/** Shared run machinery: one Spark configuration for every run, repeated
  * set-up, and the process-level measurements. */
object Runtime {
  def session(o: Opts, cores: Int): SparkSession = {
    val w = o.work.toAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("stormbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", w.resolve("warehouse").toString)
      .config("spark.local.dir", w.resolve("spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation", w.resolve("checkpoints").toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Run `up` `times` times, tearing down all but the last; returns the last
    * result and the median set-up seconds. */
  def setUp[R](times: Int)(up: => R)(down: R => Unit): (R, Double, Seq[Double]) = {
    val secs = mutable.ArrayBuffer[Double]()
    var last: Option[R] = None
    (1 to times).foreach { i =>
      val t0 = System.nanoTime()
      val r = up
      secs += (System.nanoTime() - t0) / 1e9
      if (i < times) down(r) else last = Some(r)
    }
    (last.get, Stats.median(secs.toSeq), secs.toSeq)
  }

  /** Heap in use right after a full collection, as the collector reports
    * it (later allocations by still-running threads do not count). Spark's
    * context cleaner drops unreferenced shuffles and broadcasts
    * asynchronously after a GC, so collect three times with pauses between. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { i => if (i > 1) Thread.sleep(300); System.gc() }
    heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Wait until every listener has seen every event posted so far. */
  def drain(s: SparkSession): Unit = org.apache.spark.BenchBus.drain(s.sparkContext)
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val r = new Result
    try {
      o.workload match {
        case "trident-query" => QueryWorkload.run(o, r, QueryWorkload.Trident)
        case "corpus-ops" => QueryWorkload.run(o, r, QueryWorkload.Corpus)
        case "state-ingest" => IngestWorkload.run(o, r)
        case "drpc-serve" => DrpcWorkload.run(o, r)
        case other => r.error(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.error(s"run aborted: $e")
    }
    o.spans.foreach(p => if (o.trace) Trace.writeSpans(p))
    r.write(o.work.resolve("result.json"))
    // streaming and DRPC threads are daemons, but Spark's are not all so
    System.exit(0)
  }
}
