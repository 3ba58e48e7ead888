package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import graft.api._
import graft.drpc.LocalDRPC
import graft.sources.{FeederSource, Metrics, RichSpout, RichSpoutBatchExecutor}
import graft.state._
import graft.streaming.MultiStateRunner
import graft.streaming.MultiStateRunner.StateSink

/** DRPC wire format, sources tier, multi-state coordinated commit, custom
  * partitioner, read-your-writes cache. */
class MiscSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("LocalDRPC returns the JSON wire format and rejects unknown functions") {
    val drpc = new LocalDRPC(spark)
    drpc.register("echo", args => Seq((args, args.length)).toDF("arg", "len"))
    assert(drpc.execute("echo", "hi \"there\"") == """[["hi \"there\"",10]]""")
    val e = intercept[IllegalArgumentException](drpc.execute("nope", "x"))
    assert(e.getMessage.contains("unknown DRPC function"))
  }

  test("tuplifyArgs parses JSON-array DRPC args into tuples") {
    val drpc = new LocalDRPC(spark)
    val rows = drpc.tuplifyArgs("""[["a","1"],["b","2"]]""", Seq("k", "v"))
      .as[(String, String)].collect().toSet
    assert(rows == Set(("a", "1"), ("b", "2")))
  }

  test("csv and jsonl sources: explicit schema, PERMISSIVE corrupt handling, streaming face") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    TempDirs.withTempDir("srcfmt") { dir =>
      java.nio.file.Files.writeString(dir.resolve("a.csv"), "id,name\n1,alpha\n2,beta\nnot_a_long,gamma\n")
      java.nio.file.Files.writeString(dir.resolve("b.jsonl"), """{"id":3,"name":"c"}""" + "\n" + """{"id":4,"name":"d"}""" + "\n")

      val c = graft.sources.Sources.csv(spark, dir.resolve("a.csv").toString, schema)
      assert(c.where(F.col("id").isNotNull).count() == 2)   // malformed row survives as nulls
      assert(c.count() == 3)
      val j = graft.sources.Sources.jsonl(spark, dir.resolve("b.jsonl").toString, schema)
      assert(j.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))

      // streaming face: same schema, incremental file listing
      val s = graft.sources.Sources.jsonl(spark, dir.resolve("*.jsonl").toString, schema, streaming = true)
      assert(s.isStreaming)
    }
  }

  test("FeederSource feeds discrete micro-batches (FeederBatchSpout analog)") {
    val feeder = new FeederSource[String](spark)
    feeder.feed(Seq("a b", "c"))
    val wordState = new NonTransactionalMap[Long](new MemoryBackingMap[Long]("feeder-wc"))
    MemoryBackingMap.clear("feeder-wc")
    val words = new Stream(feeder.toDF.toDF("sentence"))
      .flatEach(F.split(F.col("sentence"), " "), "word").project(Fields("word"))
    val q = graft.streaming.StreamRunner.persistentAggregate[Long](words.toDF,
      Fields("word"), F.count(F.lit(1)).as("cnt"), _ + _, wordState, "feeder-test",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    q.processAllAvailable()
    feeder.feed(Seq("a"))
    q.processAllAvailable()
    q.stop()
    assert(MemoryBackingMap.snapshot[Long]("feeder-wc")(Seq("a")) == 2L)
  }

  test("RichSpoutBatchExecutor: pulls timed batches from a plain spout, acks on commit") {
    // a non-replayable spout over a finite queue: 25 tuples, batch cap 10
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    (1 to 25).foreach(emitted.add(_))
    val acked = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val spout = new RichSpout[Int] {
      override def nextTuple(): Option[Int] = Option(emitted.poll())
      override def ack(t: Int): Unit = { acked.add(t); () }
      override def fail(t: Int): Unit = { failed.add(t); () }
    }
    val exec = new RichSpoutBatchExecutor[Int](spark, spout, maxBatchSize = 10)
    val sums = scala.collection.mutable.ArrayBuffer[Long]()
    val q = exec.toDS.toDF("n").writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .foreachBatch { (b: DataFrame, _: Long) =>
        sums += b.agg(F.sum("n")).head().getLong(0)
        exec.ackOldest() // downstream commit → ack the batch's tuples
      }
      .start()
    // pump → trigger per batch: 10, 10, then 5 as the spout runs dry
    assert(exec.pump() == 10); q.processAllAvailable()
    assert(exec.pump() == 10); q.processAllAvailable()
    assert(exec.pump() == 5); q.processAllAvailable()
    assert(exec.pump() == 0) // nothing left
    q.stop()
    exec.stop()
    assert(sums.toSeq == Seq(55L, 155L, 115L)) // per-batch sums, in order
    assert(acked.toArray(Array.empty[Integer]).map(_.toInt).sorted.toSeq == (1 to 25))
    assert(failed.isEmpty)
  }

  test("multi-state coordinated commit: both states consistent across a replay") {
    MemoryBackingMap.clear("ms-words"); MemoryBackingMap.clear("ms-chars")
    val words = new OpaqueMap[Long](new MemoryBackingMap[OpaqueValue[Long]]("ms-words"))
    val chars = new TransactionalMap[Long](new MemoryBackingMap[TransactionalValue[Long]]("ms-chars"))
    val sinks = Seq(
      StateSink[Long]("words",
        (b: DataFrame) => b.select(F.explode(F.split(F.col("sentence"), " ")).as("word")),
        Fields("word"), F.count(F.lit(1)).as("cnt"), _ + _, words),
      StateSink[Long]("chars",
        (b: DataFrame) => b.select(F.lit("total").as("k"), F.length(F.col("sentence")).as("n")),
        Fields("k"), F.sum("n").as("s"), _ + _, chars))

    val b0 = Seq("ab cd", "ef").toDF("sentence")
    MultiStateRunner.applyBatch(b0, 0L, sinks)
    MultiStateRunner.applyBatch(b0, 0L, sinks) // full-batch replay
    val b1 = Seq("ab").toDF("sentence")
    MultiStateRunner.applyBatch(b1, 1L, sinks)

    assert(MemoryBackingMap.snapshot[OpaqueValue[Long]]("ms-words")(Seq("ab")).curr == 2L)
    assert(MemoryBackingMap.snapshot[TransactionalValue[Long]]("ms-chars")(Seq("total")).value == (5L + 2L + 2L))
  }

  test("multi-state restart storm: crashes between and inside the two state commits of one batch converge both stores to the same txid") {
    // The reference's hardest coordination guarantee
    // (transactional_test.clj:91-659): with MULTIPLE states in one
    // topology, a crash at ANY point of a batch — before the first state,
    // between the two states' commits, or inside the second commit after
    // its writes — must leave the stores reconcilable by replaying the
    // SAME txid before any later txid runs (failed-commit retry in txid
    // order). Opaque tier reconciles by prev-rollback, transactional tier
    // by same-txid skip.
    MemoryBackingMap.clear("storm-words"); MemoryBackingMap.clear("storm-chars")
    val words = new CrashingState[Long](
      new OpaqueMap[Long](new MemoryBackingMap[OpaqueValue[Long]]("storm-words")))
    val chars = new CrashingState[Long](
      new TransactionalMap[Long](new MemoryBackingMap[TransactionalValue[Long]]("storm-chars")))
    val sinks = Seq(
      StateSink[Long]("words",
        (b: DataFrame) => b.select(F.explode(F.split(F.col("sentence"), " ")).as("word")),
        Fields("word"), F.count(F.lit(1)).as("cnt"), _ + _, words),
      StateSink[Long]("chars",
        (b: DataFrame) => b.select(F.lit("total").as("k"), F.length(F.col("sentence")).as("n")),
        Fields("k"), F.sum("n").as("s"), _ + _, chars))
    // every batch contains "a", so the last txid must land on its stored
    // value in BOTH stores if commit order is honored
    val batches = Seq(
      Seq("a b", "b c"), // txid 0: clean
      Seq("a", "c c"),   // txid 1: crash between the two commits
      Seq("a b c"),      // txid 2: crash inside the second state's commit
      Seq("a a b"))      // txid 3: three consecutive crashes, then success
      .map(_.toDF("sentence"))
    def attempt(txid: Long, crash: Option[(CrashingState[Long], String)]): Unit = {
      crash.foreach { case (st, at) => st.failAt = Some(at) }
      try {
        MultiStateRunner.applyBatch(batches(txid.toInt), txid, sinks)
        assert(crash.isEmpty, s"txid $txid: injected crash did not fire")
      } catch {
        case e: org.apache.spark.SparkException
          if e.getMessage.contains("injected crash") => ()
        case e: RuntimeException if e.getMessage.contains("injected crash") => ()
      }
    }
    attempt(0L, None)
    attempt(1L, Some((chars, "begin")))  // words committed txid 1, chars untouched
    attempt(1L, None)                    // replay: words opaque-rollback, chars applies
    attempt(2L, Some((chars, "commit"))) // chars WROTE txid 2, commit bracket lost
    attempt(2L, None)                    // replay: words rollback, chars same-txid skip
    attempt(3L, Some((words, "begin")))  // nothing applied anywhere
    attempt(3L, Some((chars, "begin")))  // words committed, chars untouched
    attempt(3L, Some((chars, "commit"))) // words rollback; chars wrote, commit lost
    attempt(3L, None)                    // final clean replay
    // values equal ONE clean application of all four batches
    val w = MemoryBackingMap.snapshot[OpaqueValue[Long]]("storm-words")
    assert(w(Seq("a")).curr == 5L && w(Seq("b")).curr == 4L && w(Seq("c")).curr == 4L)
    val c = MemoryBackingMap.snapshot[TransactionalValue[Long]]("storm-chars")
    assert(c(Seq("total")).value == (3L + 3L + 1L + 3L + 5L + 5L))
    // both stores converged to the SAME txid on the keys the last batch
    // touched — the coordinated-commit invariant the storm was attacking
    assert(w(Seq("a")).currTxid == 3L && c(Seq("total")).txid == 3L)
  }

  test("partitionCustom routes rows via the user partitioner") {
    val s = new Stream((0 until 40).toDF("n"))
    val routed = s.partitionCustom(4, r => r.getInt(0) % 4)
    assert(routed.toDF.rdd.getNumPartitions == 4)
    val perPart = routed.toDF.rdd.mapPartitionsWithIndex { (i, it) =>
      Iterator((i, it.map(_.getInt(0) % 4).toSet))
    }.collect().toMap
    perPart.foreach { case (i, residues) => assert(residues.subsetOf(Set(i))) }
  }

  test("partitionCustomMulti replicates a row to every chosen task (chooseTasks parity)") {
    // each row goes to its residue partition AND partition 3 (replication —
    // CustomStreamGrouping.chooseTasks returns a List<Integer>)
    val s = new Stream((0 until 30).toDF("n"))
    val routed = s.partitionCustomMulti(4, r => Seq(r.getInt(0) % 3, 3).distinct)
    assert(routed.toDF.rdd.getNumPartitions == 4)
    val perPart = routed.toDF.rdd.mapPartitionsWithIndex { (i, it) =>
      Iterator((i, it.map(_.getInt(0)).toSeq))
    }.collect().toMap
    // replica partition holds every row; each residue partition its third
    assert(perPart(3).sorted == (0 until 30))
    (0 until 3).foreach { p =>
      assert(perPart(p).toSet == (0 until 30).filter(_ % 3 == p).toSet)
    }
    assert(routed.toDF.count() == 60L) // 30 rows × 2 targets
  }

  test("CachedBatchReadsMap: reads inside a commit see that batch's writes") {
    MemoryBackingMap.clear("ryw")
    val m = new CachedBatchReadsMap[Long](
      new OpaqueMap[Long](new MemoryBackingMap[OpaqueValue[Long]]("ryw")))
    val k = Seq(Seq[Any]("a"))
    m.beginCommit(Some(1L))
    m.multiUpdate(k, Seq(CombinerValueUpdater[Long](2L, _ + _)))
    // the raw OpaqueMap would return the PRE-batch value here (None);
    // the read-your-writes wrapper surfaces the in-batch write
    assert(m.multiGet(k) == Seq(Some(2L)))
    m.commit(Some(1L))
  }

  test("Metrics.observed evaluates metrics inside the pass") {
    val df = Metrics.observed(Seq(1.0, 2.0, 3.0).toDF("v"), "m", "v")
    assert(df.count() == 3) // observation attaches without changing results
  }

  test("JSON state serializers round-trip the reference wire shapes") {
    import graft.state.StateSerializers._
    assert(nonTransactionalFromJson(nonTransactionalToJson("a\"b\n")) == "a\"b\n")
    val tv = TransactionalValue[Any](7L, 42L)
    assert(transactionalFromJson(transactionalToJson(tv)) == tv)
    assert(transactionalToJson(tv) == "[7,42]")
    val ov = OpaqueValue[Any](9L, "curr", Some("prev"))
    assert(opaqueFromJson(opaqueToJson(ov)) == ov)
    assert(opaqueToJson(OpaqueValue[Any](1L, 2.5, None)) == "[1,2.5,null]")
  }

  test("partitionPersist: raw StateUpdater tier with txid bracketing and replay skip") {
    MemoryBackingMap.clear("pp")
    MiscSpec.updaterPartitions.clear()
    val state = new TransactionalMap[Long](new MemoryBackingMap[TransactionalValue[Long]]("pp"))
    val appendCount = new StateUpdater[TransactionalMap[Long]] {
      def updateState(s: TransactionalMap[Long], tuples: Seq[Seq[Any]]): Seq[Seq[Any]] = {
        // proves the updater runs inside an executor task, not a driver
        // collect: TaskContext exists only on the task execution path
        MiscSpec.updaterPartitions.add(
          org.apache.spark.TaskContext.get() match {
            case null => -1
            case tc => tc.partitionId()
          })
        val byKey = tuples.groupBy(_.head).view.mapValues(_.size.toLong).toSeq
        s.multiUpdate(byKey.map(kv => Seq(kv._1)),
          byKey.map(kv => CombinerValueUpdater[Long](kv._2, _ + _)))
        byKey.map { case (k, n) => Seq(k, n) }
      }
    }
    // key-partitioned input, as the reference requires (partitionPersist
    // follows partitionBy/groupBy): a transactional per-key fold from TWO
    // partitions under one txid would read as a replay and be skipped
    val batch = Seq("x", "x", "y").toDF("word").repartition(3, $"word")
    graft.streaming.StreamRunner.partitionPersistBatch(batch, 0L, Fields("word"), state, appendCount)
    graft.streaming.StreamRunner.partitionPersistBatch(batch, 0L, Fields("word"), state, appendCount)
    assert(MemoryBackingMap.snapshot[TransactionalValue[Long]]("pp")(Seq("x")).value == 2L)
    import scala.jdk.CollectionConverters._
    val parts = MiscSpec.updaterPartitions.asScala.toSet
    assert(parts.nonEmpty && parts.forall(_ >= 0),
      s"StateUpdater must run per partition on executors, saw partition ids $parts")
  }

  test("multiReduceAll folds two unkeyed streams in one accumulator") {
    val a = Seq(1, 2, 3).toDF("n")
    val b = Seq("xx", "yyy").toDF("s")
    val reducer = new MultiReducer[(Long, Long)] {
      def init(): (Long, Long) = (0L, 0L)
      def execute(s: (Long, Long), idx: Int, t: Seq[Any]): (Long, Long) =
        if (idx == 0) (s._1 + t.head.asInstanceOf[Int], s._2)
        else (s._1, s._2 + t.head.asInstanceOf[String].length)
      def complete(s: (Long, Long)): Iterator[Seq[Any]] = Iterator(Seq(s._1, s._2))
    }
    import org.apache.spark.sql.types._
    val out = new Stream(a).multiReduceAll(new Stream(b), reducer,
        Seq(StructField("sum_a", LongType), StructField("len_b", LongType)))
      .toDF.as[(Long, Long)].head()
    assert(out == ((6L, 5L)))
  }

  test("RowFunction lifecycle hooks fire per partition; debug keeps all tuples") {
    MiscSpec.prepared.set(0); MiscSpec.cleaned.set(0)
    val fn = new graft.api.Operations.RowFunction {
      override def prepare(pi: Int): Unit = { MiscSpec.prepared.incrementAndGet(); () }
      def execute(in: Seq[Any]): Iterator[Seq[Any]] = Iterator(Seq(in.head))
      override def cleanup(): Unit = { MiscSpec.cleaned.incrementAndGet(); () }
    }
    import org.apache.spark.sql.types._
    val s = new Stream(Seq("a", "b", "c", "d").toDF("v").repartition(2))
      .each(Fields("v"), fn, Seq(StructField("v2", StringType)))
    assert(s.toDF.count() == 4)
    assert(MiscSpec.prepared.get() == 2 && MiscSpec.cleaned.get() == 2)
    assert(new Stream(Seq(1, 2).toDF("n")).debug("t").toDF.count() == 2)
  }
}

object MiscSpec {
  val prepared = new java.util.concurrent.atomic.AtomicInteger(0)
  val cleaned = new java.util.concurrent.atomic.AtomicInteger(0)
  val updaterPartitions: java.util.Set[Integer] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
}

/** Fault-injection wrapper for the restart-storm drill: throws at the
  * armed commit-bracket point (driver-side begin/commit — where the
  * reference's coordinator crashes land), then disarms, so each injected
  * crash fires exactly once. Top-level class: the state handle is
  * serialized into foreachPartition tasks and must not capture the spec. */
final class CrashingState[T](inner: MapState[T]) extends MapState[T] {
  @volatile var failAt: Option[String] = None // "begin" | "commit"
  private def trip(point: String): Unit =
    if (failAt.contains(point)) {
      failAt = None
      throw new RuntimeException(s"injected crash at $point")
    }
  def multiGet(keys: Seq[Seq[Any]]): Seq[Option[T]] = inner.multiGet(keys)
  def multiUpdate(keys: Seq[Seq[Any]], updaters: Seq[ValueUpdater[T]]): Seq[T] =
    inner.multiUpdate(keys, updaters)
  def multiPut(keys: Seq[Seq[Any]], vals: Seq[T]): Unit = inner.multiPut(keys, vals)
  def beginCommit(txid: Option[Long]): Unit = { trip("begin"); inner.beginCommit(txid) }
  def commit(txid: Option[Long]): Unit = { trip("commit"); inner.commit(txid) }
  override def scanAll(): Seq[(Seq[Any], Any)] = inner.scanAll()
}
