package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import graft.api.Fields
import graft.util.Lineage
import scala.collection.mutable

/** Core-Storm per-tuple topology façade: the `TopologyBuilder` / `IRichSpout`
  * / `IRichBolt` porting surface (reference:
  * `storm-core/src/jvm/backtype/storm/topology/TopologyBuilder.java:47-81`,
  * `.../topology/IRichBolt.java`, `.../task/OutputCollector.java`), so a
  * core-topology user can TRANSLITERATE their spouts and bolts before
  * migrating to the declarative Stream/Trident surface.
  *
  * Execution model (Spark-first, not a worker emulation):
  *  - A component's tuples live in a DataFrame of
  *    `(task INT, seq BIGINT, payload BINARY)` rows; `payload` is the
  *    java-serialized value list (bolts are arbitrary JVM code, so the
  *    engine cannot know a columnar schema for their tuples).
  *  - A GROUPING is a task-assignment function
  *    (fields-hash / round-robin / 0 / replicate — the same routing
  *    semantics as `Stream.partitionBy/shuffle/global/broadcast`), applied
  *    as a column transform; the bolt stage is then
  *    `repartition(parallelism, task)` + `sortWithinPartitions(task, seq)`
  *    + `mapPartitions`, with ONE BOLT INSTANCE PER TASK created inside the
  *    partition (prepare → execute per tuple in seq order → cleanup) — the
  *    documented per-partition-imperative-code path, because the
  *    `IRichBolt.execute` contract IS arbitrary per-tuple imperative code.
  *  - Per-task arrival order: Storm guarantees pairwise order between two
  *    tasks; here every tuple carries a global `seq` derived from its
  *    source tuple (`src_seq · 1e6 + emission_index`, sources interleaved
  *    by `seq · n_sources + source_index`), and the within-partition sort
  *    reproduces pairwise order for every source task at once.
  *
  * Acking (reference `integration_test.clj:28-60` + SURVEY §2.10 mapping):
  * the XOR ack tree exists in Storm to detect completion of a tuple's
  * emission tree under partial failure. Under Spark the batch's stage DAG
  * is that tree — a job that returns HAS processed every derived tuple, a
  * task that dies is re-run from lineage — so `OutputCollector.ack/fail`
  * here only maintain per-component counters (surfaced in
  * [[LocalTopology.Results]]), `emit(anchor, ...)` accepts and ignores the
  * anchor, and every spout msgId is acked after the run completes (batch
  * completion == tree completion). At-least-once REPLAY across process
  * death is the checkpoint/WAL tier (`sources/BatchLogSource.scala`), and
  * per-tuple low latency is `streaming/ContinuousRunner.scala`; this
  * façade is the API-compat tier, sized for topology-logic porting and
  * tests, not the 100 TB data path (that is the Stream/Trident surface —
  * tuples here pay java serialization by design).
  */
final case class TopologyContext(componentId: String, taskIndex: Int,
    parallelism: Int, conf: Map[String, Any] = Map.empty)

/** Stream-id constants (reference `utils/Utils.java` DEFAULT_STREAM_ID and
  * `Constants.java` system ids). */
object CoreStreams {
  val Default = "default"
  val SystemComponent = "__system"
  val TickStream = "__tick"
  /** reference `Config.TOPOLOGY_TICK_TUPLE_FREQ_SECS` */
  val TickFreqConf = "topology.tick.tuple.freq.secs"
}

/** Reference `topology/OutputFieldsDeclarer.java`: a component declares one
  * or more named output streams; `declare` is `declareStream("default")`.
  * Multi-stream components (e.g. the reference's `drpc/PrepareRequest.java:
  * 32-51` splitting args / return-info / id into three streams) override
  * the declarer overload of `declareOutputFields`. */
final class OutputFieldsDeclarer private[core] () {
  private[core] val streams = mutable.LinkedHashMap[String, Seq[String]]()
  def declare(fields: Fields): Unit = declareStream(CoreStreams.Default, fields)
  def declareStream(streamId: String, fields: Fields): Unit = {
    require(!streams.contains(streamId),
      s"stream $streamId declared twice")
    streams(streamId) = fields.names
  }
}

/** Dynamic tuple face handed to bolts (reference `storm-core/src/jvm/
  * backtype/storm/tuple/Tuple.java` accessor subset). */
final class CoreTuple private[core] (val sourceComponent: String,
    val fields: Seq[String], val values: Seq[Any],
    private[core] val seq: Long,
    val sourceStreamId: String = CoreStreams.Default) extends Serializable {
  def size: Int = values.size
  def getValue(i: Int): Any = values(i)
  def getValueByField(f: String): Any = {
    val i = fields.indexOf(f)
    require(i >= 0, s"no field $f in (${fields.mkString(", ")})")
    values(i)
  }
  def getString(i: Int): String = values(i).asInstanceOf[String]
  def getStringByField(f: String): String = getValueByField(f).asInstanceOf[String]
  def getLong(i: Int): Long = values(i) match {
    case l: Long => l
    case x: Int => x.toLong
    case other => other.asInstanceOf[Long]
  }
  override def toString: String = values.mkString("(", ", ", ")")
}

/** Bolt-side collector: buffers emissions for the engine, counts acks.
  * `emit(anchor, values)` keeps the reference signature — anchoring
  * information is not needed because replay is lineage-level (see the
  * file doc). `emit(streamId, ...)` targets a named output stream
  * declared via [[OutputFieldsDeclarer.declareStream]]. */
final class OutputCollector private[core] (
    buf: mutable.Buffer[(Long, String, Seq[Any])],
    declaredStreams: Set[String]) {
  private[core] var currentSeq: Long = 0L
  private[core] var emitIdx: Int = 0
  private[core] var acked: Long = 0L
  private[core] var failed: Long = 0L
  def emit(values: Seq[Any]): Unit = emit(CoreStreams.Default, values)
  def emit(streamId: String, values: Seq[Any]): Unit = {
    require(declaredStreams.contains(streamId),
      s"emit to undeclared stream $streamId (declared: ${declaredStreams.mkString(", ")})")
    require(emitIdx < 1000000, "over 1e6 emissions from one input tuple")
    // the child seq is currentSeq·1e6 + emitIdx: each bolt hop multiplies
    // the seq space by ~1e6·nSrc, so a deep topology would silently wrap
    // Long and corrupt both per-task ordering and the seq-recovery
    // division in discardCurrentEmissions — fail loudly instead
    require(currentSeq >= 0 && currentSeq < (Long.MaxValue - 999999L) / 1000000L,
      s"tuple seq $currentSeq would overflow Long at this depth: the seq " +
        "space grows ~1e6x per bolt hop; restructure the topology to fewer " +
        "emission-tree levels")
    buf += ((currentSeq * 1000000L + emitIdx, streamId, values))
    emitIdx += 1
  }
  def emit(anchor: CoreTuple, values: Seq[Any]): Unit = emit(values)
  def emit(streamId: String, anchor: CoreTuple, values: Seq[Any]): Unit =
    emit(streamId, values)
  def ack(t: CoreTuple): Unit = acked += 1
  def fail(t: CoreTuple): Unit = failed += 1
  /** Drop what the CURRENT input tuple emitted so far — the failed-execute
    * cleanup [[BasicBoltExecutor]] needs (a failed tuple's partial
    * emissions must not reach downstream). */
  private[core] def discardCurrentEmissions(): Unit = {
    val keep = buf.filterNot(_._1 / 1000000L == currentSeq)
    buf.clear()
    buf ++= keep
  }
}

/** Auto-ack collector for [[IBasicBolt]] (reference
  * `topology/BasicOutputCollector.java`, incl. the named-stream emit the
  * reference's `PrepareRequest` uses). */
final class BasicOutputCollector private[core] (oc: OutputCollector) {
  def emit(values: Seq[Any]): Unit = oc.emit(values)
  def emit(streamId: String, values: Seq[Any]): Unit = oc.emit(streamId, values)
}

/** Spout-side collector (reference `spout/SpoutOutputCollector.java`):
  * driver-side buffer; msgIds are remembered so the run can ack them on
  * batch completion. */
final class SpoutOutputCollector private[core] () {
  private[core] val emitted = mutable.Buffer[(String, Seq[Any], Any)]()
  def emit(values: Seq[Any]): Unit = emit(values, null)
  def emit(values: Seq[Any], msgId: Any): Unit =
    emit(CoreStreams.Default, values, msgId)
  def emit(streamId: String, values: Seq[Any], msgId: Any): Unit =
    emitted += ((streamId, values, msgId))
}

/** Reference `topology/IRichSpout.java` lifecycle. Spouts run (pumped) on
  * the driver — the per-tuple source loop is inherently sequential
  * imperative code; distributed sources belong to the Trident/source tier. */
trait IRichSpout extends Serializable {
  def declareOutputFields: Fields
  /** Multi-stream declaration (reference `OutputFieldsDeclarer`): override
    * to declare named streams; the default declares [[declareOutputFields]]
    * on the `default` stream. */
  def declareOutputFields(declarer: OutputFieldsDeclarer): Unit =
    declarer.declare(declareOutputFields)
  def open(context: TopologyContext, collector: SpoutOutputCollector): Unit = ()
  def nextTuple(): Unit
  def ack(msgId: Any): Unit = ()
  def fail(msgId: Any): Unit = ()
  def close(): Unit = ()
}

/** Reference `topology/IRichBolt.java` lifecycle: manual ack, collector
  * handed at prepare. Instances must be serializable (they ship inside the
  * mapPartitions closure) and are instantiated per TASK via
  * java-serialization cloning, so per-task state never aliases. */
trait IRichBolt extends Serializable {
  def declareOutputFields: Fields
  /** Multi-stream declaration (reference `OutputFieldsDeclarer`): override
    * to declare named streams (see `drpc/PrepareRequest.java:32-51`); the
    * default declares [[declareOutputFields]] on the `default` stream. */
  def declareOutputFields(declarer: OutputFieldsDeclarer): Unit =
    declarer.declare(declareOutputFields)
  def prepare(context: TopologyContext, collector: OutputCollector): Unit = ()
  def execute(input: CoreTuple): Unit
  def cleanup(): Unit = ()
}

/** Reference `topology/IBasicBolt.java`: emissions auto-anchored, ack
  * implicit after a successful execute. */
trait IBasicBolt extends Serializable {
  def declareOutputFields: Fields
  /** Multi-stream declaration — see [[IRichBolt.declareOutputFields]]. */
  def declareOutputFields(declarer: OutputFieldsDeclarer): Unit =
    declarer.declare(declareOutputFields)
  def prepare(context: TopologyContext): Unit = ()
  def execute(input: CoreTuple, collector: BasicOutputCollector): Unit
  def cleanup(): Unit = ()
}

/** Reference `utils/FailedException.java`: a basic bolt throws this to
  * FAIL the input tuple (counted, tuple dropped) instead of crashing the
  * topology — any other exception still propagates and fails the job. */
class FailedException(msg: String = "") extends RuntimeException(msg)

/** Reference `topology/BasicBoltExecutor.java`: the rich-bolt adapter that
  * acks after each successful basic execute, and converts a thrown
  * [[FailedException]] into a `fail` of the input (the reference's
  * per-tuple give-up signal; replay-on-failure is the lineage tier's
  * concern, so here the tuple is simply not acked and its emissions from
  * the failed execute are discarded). */
final class BasicBoltExecutor(val bolt: IBasicBolt) extends IRichBolt {
  @transient private var oc: OutputCollector = _
  @transient private var bc: BasicOutputCollector = _
  def declareOutputFields: Fields = bolt.declareOutputFields
  override def declareOutputFields(declarer: OutputFieldsDeclarer): Unit =
    bolt.declareOutputFields(declarer)
  override def prepare(context: TopologyContext, collector: OutputCollector): Unit = {
    oc = collector
    bc = new BasicOutputCollector(collector)
    bolt.prepare(context)
  }
  def execute(input: CoreTuple): Unit =
    try {
      bolt.execute(input, bc)
      oc.ack(input)
    } catch {
      case _: FailedException =>
        oc.discardCurrentEmissions()
        oc.fail(input)
    }
  override def cleanup(): Unit = bolt.cleanup()
}

/** Reference `backtype/storm/grouping/CustomStreamGrouping.java:26-42`,
  * façade-idiom signature (no thrift context / GlobalStreamId):
  * `prepare` receives the target task ids once at build time;
  * `chooseTasks` routes each tuple's values to ZERO OR MORE of them
  * (returning several tasks multicasts, as the reference's NGrouping
  * does; returning an empty list drops the tuple — the reference
  * contract permits filtering groupings). Implementations must be
  * serializable and `chooseTasks` pure — it runs inside the routing
  * stage on executors. */
trait CustomStreamGrouping extends Serializable {
  def prepare(targetTasks: Seq[Int]): Unit = ()
  def chooseTasks(values: Seq[Any]): Seq[Int]
}

private[core] sealed trait Grouping
private[core] object Grouping {
  final case class FieldsG(fields: Seq[String]) extends Grouping
  case object Shuffle extends Grouping
  case object Global extends Grouping
  case object All extends Grouping
  final case class CustomG(g: CustomStreamGrouping) extends Grouping
}

/** Reference `TopologyBuilder.java:47-81`: component ids → components,
  * declarers wiring bolt inputs. Groupings: shuffle / fields / global /
  * all / none (none routes like shuffle, as in the reference). Direct
  * grouping is an internal mechanism with no engine mapping here —
  * unsupported, loudly. */
final class TopologyBuilder {
  private[core] final case class SpoutSpec(spout: IRichSpout, parallelism: Int)
  private[core] final case class BoltSpec(bolt: IRichBolt, parallelism: Int,
      inputs: mutable.LinkedHashMap[(String, String), Grouping])
  private[core] val spouts = mutable.LinkedHashMap[String, SpoutSpec]()
  private[core] val bolts = mutable.LinkedHashMap[String, BoltSpec]()

  private def checkId(id: String): Unit =
    require(!spouts.contains(id) && !bolts.contains(id), s"duplicate component id $id")

  def setSpout(id: String, spout: IRichSpout, parallelism: Int = 1): Unit = {
    checkId(id)
    require(parallelism >= 1, "parallelism must be >= 1")
    spouts(id) = SpoutSpec(spout, parallelism)
  }

  def setBolt(id: String, bolt: IRichBolt, parallelism: Int): BoltDeclarer = {
    checkId(id)
    require(parallelism >= 1, "parallelism must be >= 1")
    bolts(id) = BoltSpec(bolt, parallelism, mutable.LinkedHashMap())
    new BoltDeclarer(id)
  }
  def setBolt(id: String, bolt: IRichBolt): BoltDeclarer = setBolt(id, bolt, 1)
  def setBolt(id: String, bolt: IBasicBolt, parallelism: Int): BoltDeclarer =
    setBolt(id, new BasicBoltExecutor(bolt), parallelism)
  def setBolt(id: String, bolt: IBasicBolt): BoltDeclarer =
    setBolt(id, new BasicBoltExecutor(bolt), 1)

  final class BoltDeclarer private[core] (id: String) {
    private def add(src: String, stream: String, g: Grouping): BoltDeclarer = {
      require(!bolts(id).inputs.contains((src, stream)),
        s"bolt $id already declares an input from $src/$stream")
      bolts(id).inputs((src, stream)) = g
      this
    }
    // single-stream faces subscribe to the source's `default` stream;
    // the streamId overloads are the reference's
    // `declarer.xGrouping(component, streamId)` subscriptions
    def shuffleGrouping(src: String): BoltDeclarer =
      shuffleGrouping(src, CoreStreams.Default)
    def shuffleGrouping(src: String, streamId: String): BoltDeclarer =
      add(src, streamId, Grouping.Shuffle)
    def noneGrouping(src: String): BoltDeclarer =
      noneGrouping(src, CoreStreams.Default)
    def noneGrouping(src: String, streamId: String): BoltDeclarer =
      add(src, streamId, Grouping.Shuffle)
    def fieldsGrouping(src: String, fields: Fields): BoltDeclarer =
      fieldsGrouping(src, CoreStreams.Default, fields)
    def fieldsGrouping(src: String, streamId: String, fields: Fields): BoltDeclarer =
      add(src, streamId, Grouping.FieldsG(fields.names))
    def globalGrouping(src: String): BoltDeclarer =
      globalGrouping(src, CoreStreams.Default)
    def globalGrouping(src: String, streamId: String): BoltDeclarer =
      add(src, streamId, Grouping.Global)
    def allGrouping(src: String): BoltDeclarer =
      allGrouping(src, CoreStreams.Default)
    def allGrouping(src: String, streamId: String): BoltDeclarer =
      add(src, streamId, Grouping.All)
    /** Reference `InputDeclarer.java:26-27` / `executor.clj:71-77`: pick
      * an in-worker target task when one exists, else shuffle — the
      * stock Storm throughput recommendation (skips serialization on the
      * local hop). Here the engine has no worker/task placement to
      * exploit: routing compiles to ONE repartition exchange either way,
      * and Spark's shuffle already writes map-local blocks that
      * same-executor reducers read without the network. Semantically
      * local-or-shuffle only promises "some load-spreading task, no key
      * contract", which is exactly shuffle — so it routes as shuffle. */
    def localOrShuffleGrouping(src: String): BoltDeclarer =
      localOrShuffleGrouping(src, CoreStreams.Default)
    def localOrShuffleGrouping(src: String, streamId: String): BoltDeclarer =
      add(src, streamId, Grouping.Shuffle)
    /** Reference `InputDeclarer.java:40-41` (`executor.clj:83-88` routes
      * via the grouping's chooseTasks): user-supplied task choice, one
      * row to one OR MANY target tasks (NGrouping-style multicast). */
    def customGrouping(src: String, grouping: CustomStreamGrouping): BoltDeclarer =
      customGrouping(src, CoreStreams.Default, grouping)
    def customGrouping(src: String, streamId: String,
                       grouping: CustomStreamGrouping): BoltDeclarer =
      add(src, streamId, Grouping.CustomG(grouping))
    def directGrouping(src: String): BoltDeclarer =
      throw new UnsupportedOperationException(
        "direct grouping is an internal transport mechanism with no " +
          "user-facing semantics here — use fields/shuffle/global/all")
  }
}

/** Local batch-complete topology run — the `complete-topology` test-harness
  * face of the reference (`testing.clj`): feed finite spout inputs, run the
  * whole DAG, read every component's tuples back. */
object LocalTopology {
  final case class Results(tuples: Map[String, Seq[Seq[Any]]],
      streamTuples: Map[(String, String), Seq[Seq[Any]]],
      acked: Map[String, Long], failed: Map[String, Long]) {
    /** reference `read-tuples`: one component's DEFAULT-stream emissions,
      * in (task, seq) order — per-task sequential order, tasks
      * concatenated. */
    def readTuples(component: String): Seq[Seq[Any]] = tuples(component)
    /** reference `read-tuples` with a stream id: one named stream's
      * emissions in the same order. */
    def readTuples(component: String, streamId: String): Seq[Seq[Any]] =
      streamTuples.getOrElse((component, streamId),
        throw new NoSuchElementException(s"no stream $component/$streamId"))
  }

  private val tupleSchema = StructType(Seq(
    StructField("task", IntegerType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("stream", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  private def ser(v: Seq[Any]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new java.io.ObjectOutputStream(bos)
    o.writeObject(v.toList); o.close()
    bos.toByteArray
  }
  private def deser(b: Array[Byte]): Seq[Any] =
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b))
      .readObject().asInstanceOf[List[Any]]
  /** Per-task bolt instance via serialization cloning (what a real worker
    * does when deserializing the shipped topology). */
  private def cloneViaSer[T <: Serializable](t: T): T =
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream({
      val bos = new java.io.ByteArrayOutputStream()
      val o = new java.io.ObjectOutputStream(bos)
      o.writeObject(t); o.close()
      bos.toByteArray
    })).readObject().asInstanceOf[T]

  /** Run the topology to completion: mocked spouts (`mockSources`, the
    * reference's `:mock-sources`; mock tuples feed the `default` stream) or
    * driver-pumped real spouts (stopping after a full quiescent round —
    * every spout task's `nextTuple` emitting nothing — or `maxSpoutCalls`).
    * Returns every component's tuples per stream.
    *
    * Tick tuples (reference `executor.clj:295-312` `setup-ticks!`): when
    * `conf` carries `topology.tick.tuple.freq.secs` and
    * `simulatedTimeSecs > 0`, each bolt task receives
    * `simulatedTimeSecs / freq` system tuples (component `__system`,
    * stream `__tick`, values `[freq]`) AFTER its data tuples — the
    * deterministic batch-run analog of the reference's simulated-time
    * harness, where a quiescent topology keeps receiving ticks (the
    * common flush-on-tick pattern exercises exactly this tail position).
    * Ticks are delivered to tasks that received at least one data tuple
    * (a task with no input has no instance in a batch run).
    *
    * TEST HARNESS, NOT A DATA PATH. This ports the reference's OWN test
    * harness `complete-topology` (testing.clj:436-483), which likewise
    * returns every emitted tuple to the caller — so the final step
    * COLLECTS ALL EMITTED TUPLES TO THE DRIVER. Never wire a production
    * topology through it: the streaming runners
    * ([[graft.streaming.StreamRunner]] / StateStoreRunner) are the data
    * path, and their state/output stays distributed. `maxResultTuples`
    * (override deliberately for a large assertion corpus) fails loudly
    * before a driver-sized collect can OOM the JVM. */
  def completeTopology(spark: SparkSession, builder: TopologyBuilder,
      mockSources: Map[String, Seq[Seq[Any]]] = Map.empty,
      maxSpoutCalls: Int = 100000,
      conf: Map[String, Any] = Map.empty,
      simulatedTimeSecs: Long = 0L,
      maxResultTuples: Long = 1000000L): Results = {
    import scala.jdk.CollectionConverters._
    mockSources.keys.foreach(id => require(builder.spouts.contains(id),
      s"mock source $id is not a declared spout"))
    val tickFreq: Long = conf.get(CoreStreams.TickFreqConf).map {
      case i: Int => i.toLong
      case l: Long => l
      case s: String => s.toLong
      case other => throw new IllegalArgumentException(
        s"${CoreStreams.TickFreqConf} must be numeric, got $other")
    }.getOrElse(0L)
    val nTicks: Long =
      if (tickFreq > 0 && simulatedTimeSecs > 0) simulatedTimeSecs / tickFreq
      else 0L
    // declared streams per component, in declaration order
    val declared = mutable.LinkedHashMap[String, Seq[(String, Seq[String])]]()
    def runDeclarer(id: String, declare: OutputFieldsDeclarer => Unit): Unit = {
      val d = new OutputFieldsDeclarer()
      declare(d)
      require(d.streams.nonEmpty, s"component $id declares no output streams")
      declared(id) = d.streams.toSeq
    }
    val outFields = mutable.Map[(String, String), Seq[String]]()
    val outputs = mutable.LinkedHashMap[(String, String), DataFrame]()
    val doneComponents = mutable.Set[String]()
    val ackCounts = mutable.Map[String, Long]()
    val failCounts = mutable.Map[String, Long]()

    // ---- spouts: driver-pumped (or mocked), round-robin across tasks ----
    val pendingAcks = mutable.Buffer[(IRichSpout, Any)]()
    builder.spouts.foreach { case (id, spec) =>
      runDeclarer(id, (d: OutputFieldsDeclarer) => spec.spout.declareOutputFields(d))
      declared(id).foreach { case (st, fs) => outFields((id, st)) = fs }
      val tuples: Seq[(String, Seq[Any])] = mockSources.get(id) match {
        case Some(mock) => mock.map((CoreStreams.Default, _))
        case None =>
          val tasks = (0 until spec.parallelism).map { i =>
            val inst = cloneViaSer(spec.spout)
            val col = new SpoutOutputCollector()
            inst.open(TopologyContext(id, i, spec.parallelism, conf), col)
            (inst, col)
          }
          var calls = 0
          var quiet = false
          while (!quiet && calls < maxSpoutCalls) {
            quiet = true
            tasks.foreach { case (inst, col) =>
              if (calls < maxSpoutCalls) {
                val before = col.emitted.size
                inst.nextTuple()
                calls += 1
                if (col.emitted.size > before) quiet = false
              }
            }
          }
          val all = mutable.Buffer[(String, Seq[Any])]()
          tasks.foreach { case (inst, col) =>
            col.emitted.foreach { case (st, v, msgId) =>
              all += ((st, v))
              if (msgId != null) pendingAcks += ((inst, msgId))
            }
            inst.close()
          }
          all.toSeq
        }
      val declaredSet = declared(id).map(_._1).toSet
      tuples.foreach { case (st, _) => require(declaredSet.contains(st),
        s"spout $id emitted to undeclared stream $st") }
      val rows = tuples.zipWithIndex.map { case ((st, v), i) =>
        Row((i % spec.parallelism), i.toLong, st, ser(v))
      }
      // consumed by several bolts: cut once
      val df = Lineage.cut(spark.createDataFrame(rows.asJava, tupleSchema))
      declared(id).foreach { case (st, _) =>
        outputs((id, st)) = df.where(F.col("stream") === st)
      }
      doneComponents += id
    }

    // wiring validation: every subscription names a component and one of
    // its declared streams (declarers run up front so a bad stream id
    // fails before any work runs)
    builder.bolts.foreach { case (id, spec) =>
      runDeclarer(id, (d: OutputFieldsDeclarer) => spec.bolt.declareOutputFields(d))
      declared(id).foreach { case (st, fs) => outFields((id, st)) = fs }
      require(spec.inputs.nonEmpty, s"bolt $id declares no inputs")
    }
    builder.bolts.foreach { case (id, spec) =>
      spec.inputs.keys.foreach { case (src, st) =>
        require(declared.contains(src),
          s"bolt $id subscribes to unknown component $src")
        require(declared(src).exists(_._1 == st),
          s"bolt $id subscribes to undeclared stream $src/$st " +
            s"(declared: ${declared(src).map(_._1).mkString(", ")})")
      }
    }

    // ---- bolts in topological order ----
    val remaining = mutable.LinkedHashMap(builder.bolts.toSeq: _*)
    while (remaining.nonEmpty) {
      val readyOpt = remaining.find(_._2.inputs.keys
        .forall { case (src, _) => doneComponents.contains(src) })
      val (id, spec) = readyOpt.getOrElse(throw new IllegalArgumentException(
        s"topology cycle or missing input among: ${remaining.keys.mkString(", ")}"))
      remaining.remove(id)
      val bolt = spec.bolt
      val nSrc = spec.inputs.size
      // route every input to target tasks; interleave sources so each
      // source's pairwise order survives the global seq sort
      val routedInputs = spec.inputs.zipWithIndex.map {
        case (((src, stream), grouping), srcIdx) =>
          val srcFields = outFields((src, stream))
          val p = spec.parallelism
          val srcName = src
          val streamName = stream
          // custom groupings are prepared ONCE, driver-side, with the
          // target task list (reference prepares once per worker) — the
          // prepared instance then serializes into the routing closure
          grouping match {
            case Grouping.CustomG(g) => g.prepare(0 until p)
            case _ => ()
          }
          outputs((src, stream)).toDF().rdd // row-level routing; payload is opaque binary
            .flatMap { r =>
              val seq = r.getLong(1) * nSrc + srcIdx
              val payload = r.getAs[Array[Byte]](3)
              grouping match {
                case Grouping.Global =>
                  Iterator.single(Row(0, seq, srcName, streamName, payload))
                case Grouping.Shuffle =>
                  Iterator.single(Row(math.floorMod(r.getLong(1), p.toLong).toInt,
                    seq, srcName, streamName, payload))
                case Grouping.All =>
                  Iterator.tabulate(p)(t => Row(t, seq, srcName, streamName, payload))
                case Grouping.FieldsG(fs) =>
                  val values = deser(payload)
                  val key = fs.map(f => values(srcFields.indexOf(f)))
                  Iterator.single(Row(math.floorMod(key.hashCode, p), seq,
                    srcName, streamName, payload))
                case Grouping.CustomG(g) =>
                  val values = deser(payload)
                  val tasks = g.chooseTasks(values)
                  // reference contract permits an EMPTY task list — the
                  // tuple is routed to no task (a grouping-level drop),
                  // not an error; only out-of-range ids are rejected
                  require(tasks.forall(t => t >= 0 && t < p),
                    s"customGrouping chose tasks $tasks outside [0, $p) for $values")
                  tasks.iterator.map(t => Row(t, seq, srcName, streamName, payload))
              }
            }
      }.toSeq
      val inSchema = StructType(tupleSchema.fields.patch(2,
        Seq(StructField("src", StringType, nullable = false)), 0))
      val inputDF = routedInputs.map(spark.createDataFrame(_, inSchema))
        .reduce(_.unionByName(_))
      val fieldsBySrcStream = spec.inputs.keys
        .map { case (s, st) => (s, st) -> outFields((s, st)) }.toMap
      val declaredSet = declared(id).map(_._1).toSet
      val ctxId = id
      val par = spec.parallelism
      val topoConf = conf
      val taskTicks = nTicks
      val tickRate = tickFreq
      val ackAcc = spark.sparkContext.longAccumulator(s"graft.core.$id.acked")
      val failAcc = spark.sparkContext.longAccumulator(s"graft.core.$id.failed")
      // materialize: run the bolt exactly once
      val out = Lineage.cut(inputDF
        .repartition(par, F.col("task"))
        .sortWithinPartitions("task", "seq")
        .mapPartitions { it =>
          // one bolt instance per TASK in this partition, in tuple order
          val live = mutable.LinkedHashMap[Int, (IRichBolt, OutputCollector,
            mutable.Buffer[(Long, String, Seq[Any])])]()
          val maxSeq = mutable.Map[Int, Long]()
          val outRows = mutable.Buffer[Row]()
          def drain(task: Int, buf: mutable.Buffer[(Long, String, Seq[Any])]): Unit = {
            buf.foreach { case (s, st, v) => outRows += Row(task, s, st, ser(v)) }
            buf.clear()
          }
          it.foreach { r =>
            val task = r.getInt(0)
            val (inst, col, buf) = live.getOrElseUpdate(task, {
              val buf = mutable.Buffer[(Long, String, Seq[Any])]()
              val col = new OutputCollector(buf, declaredSet)
              val inst = cloneViaSer(bolt)
              inst.prepare(TopologyContext(ctxId, task, par, topoConf), col)
              (inst, col, buf)
            })
            col.currentSeq = r.getLong(1)
            col.emitIdx = 0
            maxSeq(task) = math.max(maxSeq.getOrElse(task, 0L), r.getLong(1))
            inst.execute(new CoreTuple(r.getString(2),
              fieldsBySrcStream((r.getString(2), r.getString(3))),
              deser(r.getAs[Array[Byte]](4)),
              r.getLong(1), r.getString(3)))
            drain(task, buf)
          }
          live.foreach { case (task, (inst, col, buf)) =>
            // quiescent-time tick tuples, after the task's data
            var k = 0L
            while (k < taskTicks) {
              col.currentSeq = maxSeq(task) + 1 + k
              col.emitIdx = 0
              inst.execute(new CoreTuple(CoreStreams.SystemComponent,
                Seq("rate_secs"), Seq(tickRate),
                col.currentSeq, CoreStreams.TickStream))
              drain(task, buf)
              k += 1
            }
            inst.cleanup()
            ackAcc.add(col.acked)
            failAcc.add(col.failed)
          }
          outRows.iterator
        }(org.apache.spark.sql.Encoders.row(tupleSchema))
        .toDF())
      declared(id).foreach { case (st, _) =>
        outputs((id, st)) = out.where(F.col("stream") === st)
      }
      doneComponents += id
      ackCounts(id) = ackAcc.value
      failCounts(id) = failAcc.value
    }

    // batch completion == tuple-tree completion: ack every spout msgId
    pendingAcks.foreach { case (spout, msgId) => spout.ack(msgId) }

    // harness-only collect (see scaladoc): guard it so a mis-wired "real"
    // topology fails with a pointed message instead of a driver OOM
    val totalOut = outputs.valuesIterator.map(_.count()).sum
    require(totalOut <= maxResultTuples,
      s"completeTopology collected $totalOut emitted tuples > cap " +
      s"$maxResultTuples — this is a TEST HARNESS (it ports testing.clj's " +
      "complete-topology, which returns all tuples to the caller); run " +
      "production flows on the streaming runners, or raise maxResultTuples " +
      "deliberately for a large assertion corpus")
    val streamTuples = outputs.map { case ((id, st), df) =>
      (id, st) -> df.orderBy("task", "seq").collect()
        .map(r => deser(r.getAs[Array[Byte]](3))).toSeq
    }.toMap
    val tuples = declared.keys
      .map(id => id -> streamTuples.getOrElse((id, CoreStreams.Default), Nil))
      .toMap
    Results(tuples, streamTuples, ackCounts.toMap, failCounts.toMap)
  }
}
