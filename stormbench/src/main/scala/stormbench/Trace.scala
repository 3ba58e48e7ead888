package stormbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** In-memory spans and counters for the traced run.
  *
  * A span is one call into a layer, timed from the benchmark's side of the
  * boundary: name, start, end, parent span and the id of the query, batch or
  * request it belongs to. Spans stay in memory and are written out once, when
  * the run ends. Recording is off unless [[on]] is set, so the untraced
  * windows pay one volatile read per boundary. */
object Trace {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                        parent: Int, op: String)

  @volatile var on: Boolean = false

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val counters = TrieMap[String, AtomicLong]()

  /** Time `body` as span `name` of operation `op`, nested under the
    * innermost open span of this thread. */
  def span[A](name: String, op: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, op))
        stack.set(stack.get().tail)
      }
    }

  /** Record a span whose interval was measured elsewhere (another thread, or
    * reported afterwards by a listener). */
  def record(name: String, op: String, startNs: Long, endNs: Long,
             parent: Int = 0): Int =
    if (!on) 0
    else {
      val id = nextId.incrementAndGet()
      spans.add(Span(id, name, startNs, endNs, parent, op))
      id
    }

  def add(name: String, v: Long): Unit =
    if (on) { counters.getOrElseUpdate(name, new AtomicLong()).addAndGet(v); () }

  def counter(name: String): Long = counters.get(name).map(_.get).getOrElse(0L)

  def all: Vector[Span] = spans.asScala.toVector

  /** Total milliseconds of the spans called `name`. */
  def totalMs(name: String): Double =
    all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum

  /** Self time of a span: its duration minus the part of it that its child
    * spans cover (children may overlap one another). */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Share of each root span named `root` that its direct children cover,
    * as the median over roots. */
  def coverage(root: String): Double = {
    val spansNow = all
    val byParent = spansNow.groupBy(_.parent)
    val shares = spansNow.filter(_.name == root).map { r =>
      val d = (r.endNs - r.startNs).toDouble
      if (d <= 0) 1.0
      else 1.0 - selfMs(r, byParent.getOrElse(r.id, Vector.empty)) * 1e6 / d
    }
    Stats.median(shares)
  }

  def reset(): Unit = {
    spans.clear(); counters.clear()
  }

  /** Write every span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"op":"${s.op}"}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

object Stats {
  /** Linear-interpolated quantile, the same rule as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
