package stormbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark job, stage and task totals, keyed by the job group the benchmark
  * sets around each layer call (`build`, `exec`, `drpc`); jobs started
  * without one of those groups (streaming triggers) count as `stream`. */
final class ExecListener extends SparkListener {
  final class Acc {
    val jobs, stages, tasks, jobMs = new AtomicLong()
    val taskMs, cpuNs, schedMs, gcMs = new AtomicLong()
    val inRows, inBytes, shWrite, shRead, spill = new AtomicLong()
    val stageTaskMs = TrieMap[Int, ArrayBuffer[Long]]()
  }
  val groups: TrieMap[String, Acc] = TrieMap()
  private val stageGroup = TrieMap[Int, String]()
  private val jobStart = TrieMap[Int, (String, Long)]()
  val known: Set[String] = Set("build", "exec", "drpc")

  def acc(g: String): Acc = groups.getOrElseUpdate(g, new Acc)
  def reset(): Unit = { groups.clear(); stageGroup.clear(); jobStart.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(known).getOrElse("stream")
    acc(g).jobs.incrementAndGet()
    jobStart.put(e.jobId, (g, e.time))
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (g, t0) => acc(g).jobMs.addAndGet(e.time - t0) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageGroup.get(e.stageInfo.stageId).foreach(g => acc(g).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrElse(e.stageId, "stream")
    val a = acc(g)
    val m = e.taskMetrics
    val info = e.taskInfo
    a.tasks.incrementAndGet()
    if (m != null) {
      a.taskMs.addAndGet(m.executorRunTime)
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.inRows.addAndGet(m.inputMetrics.recordsRead)
      a.inBytes.addAndGet(m.inputMetrics.bytesRead)
      a.shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      if (info != null) {
        // the standard scheduler-delay split: what the task's wall time
        // spent neither deserializing, running nor serializing its result
        val wall = info.finishTime - info.launchTime
        val delay = wall - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime
        a.schedMs.addAndGet(math.max(0L, delay))
        a.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty).synchronized {
          a.stageTaskMs(e.stageId) += m.executorRunTime
        }
      }
    }
  }

  /** Worst stage's slowest task over its median task, over stages of at
    * least 4 tasks; 1.0 when no stage qualifies. */
  def skew(g: Iterable[Acc]): Double = {
    val ratios = g.flatMap(_.stageTaskMs.values).map(b => b.synchronized(b.toVector))
      .filter(_.size >= 4).map { ts =>
        val med = Stats.median(ts.map(_.toDouble))
        if (med <= 0) 1.0 else ts.max / med
      }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Per-trigger phase durations and state-operator progress of every
  * streaming query, as reported by Structured Streaming. */
final class StreamListener extends StreamingQueryListener {
  val phases: TrieMap[String, AtomicLong] = TrieMap()
  val batches = new AtomicLong()
  val storeCommitMs, storeRows, storeUpdated, storeMem = new AtomicLong()
  /** (trigger start wall ms, batch id, phase ms) of the triggers that ran
    * a batch, for matching against the commits they folded. */
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Map[String, Long])]()

  def reset(): Unit = {
    phases.clear(); batches.set(0); triggers.clear()
    Seq(storeCommitMs, storeRows, storeUpdated, storeMem).foreach(_.set(0))
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (!Trace.on || p.numInputRows == 0) return
    batches.incrementAndGet()
    val d = p.durationMs
    val m = Seq("triggerExecution", "latestOffset", "getBatch", "queryPlanning",
      "addBatch", "walCommit", "commitOffsets").map { k =>
      val v: Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      phases.getOrElseUpdate(k, new AtomicLong()).addAndGet(v)
      k -> v
    }.toMap
    triggers.add((java.time.Instant.parse(p.timestamp).toEpochMilli, p.batchId, m))
    p.stateOperators.foreach { s =>
      storeCommitMs.addAndGet(s.commitTimeMs)
      storeRows.set(math.max(storeRows.get, s.numRowsTotal))
      storeUpdated.addAndGet(s.numRowsUpdated)
      storeMem.set(math.max(storeMem.get, s.memoryUsedBytes))
    }
  }
}
