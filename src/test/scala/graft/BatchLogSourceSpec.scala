package graft.sources

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.util.CaseInsensitiveStringMap
// (KvStoreSink tests live here too — the write-side V2 counterpart)
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import graft.api.Fields
import graft.state._
import graft.streaming.{StateStoreRunner, StreamRunner}

/** The custom DataSourceV2 source: transactional-spout replay contract +
  * end-to-end streaming through persistentAggregate. */
class BatchLogSourceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("same offset range always yields the same tuples (ITridentSpout contract)") {
    BatchLog.drop("contract"); BatchLog.create("contract")
    BatchLog.append("contract", Seq("a", "b"))
    BatchLog.append("contract", Seq("c"))
    val stream = new BatchLogStream("contract")
    def read(s: Long, e: Long): Seq[String] =
      stream.planInputPartitions(BatchLogOffset(s), BatchLogOffset(e)).flatMap { p =>
        val r = BatchLogReaderFactory.createReader(p)
        val buf = scala.collection.mutable.Buffer[String]()
        while (r.next()) buf += r.get().getUTF8String(0).toString
        buf
      }.toSeq
    val first = read(0, 2)
    BatchLog.append("contract", Seq("d", "e")) // log grows...
    assert(read(0, 2) == first)                // ...replay of [0,2) is identical
    assert(stream.latestOffset() == BatchLogOffset(3L))
    assert(read(2, 3) == Seq("d", "e"))
  }

  test("checkpoint restart: a new query resumes offsets, state is not double-counted") {
    BatchLog.drop("ckpt"); BatchLog.create("ckpt")
    BatchLog.append("ckpt", Seq("a a b"))
    BatchLog.append("ckpt", Seq("a"))
    MemoryBackingMap.clear("ckpt-wc")
    val state = new OpaqueMap[Long](new MemoryBackingMap[OpaqueValue[Long]]("ckpt-wc"))
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    try {

      def startQuery() = {
        val df = spark.readStream.format("graft.sources.BatchLogProvider")
          .option("log", "ckpt").load()
        val words = df.select(F.explode(F.split(F.col("value"), " ")).as("word"))
        words.writeStream
          .queryName("ckpt-test")
          .outputMode("update")
          .option("checkpointLocation", checkpoint)
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            StreamRunner.applyBatch[Long](batch, id, Fields("word"),
              F.count(F.lit(1)).as("cnt"), _ + _, state)
          }
          .start()
      }

      val q1 = startQuery()
      q1.processAllAvailable()
      q1.stop()
      assert(MemoryBackingMap.snapshot[OpaqueValue[Long]]("ckpt-wc")(Seq("a")).curr == 3L)

      // restart from the same checkpoint: already-committed batches must NOT
      // re-apply; only the new batch is processed
      BatchLog.append("ckpt", Seq("b b"))
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()
      val snap = MemoryBackingMap.snapshot[OpaqueValue[Long]]("ckpt-wc")
      assert(snap(Seq("a")).curr == 3L)   // unchanged — offsets resumed
      assert(snap(Seq("b")).curr == 3L)   // 1 + 2 from the post-restart batch
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(checkpoint))
  }

  test("maxBatchesPerTrigger throttles backlog draining (max.spout.pending analog)") {
    BatchLog.drop("throttle"); BatchLog.create("throttle")
    (1 to 5).foreach(i => BatchLog.append("throttle", Seq(s"x$i")))
    val batchSizes = scala.collection.mutable.Buffer[Long]()
    val df = spark.readStream.format("graft.sources.BatchLogProvider")
      .option("log", "throttle").option("maxBatchesPerTrigger", "2").load()
    val q = df.writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += batch.count(); () }
      }
      .start()
    q.processAllAvailable()
    q.stop()
    // 5 pending source batches drained as ceil(5/2) micro-batches of ≤2
    assert(batchSizes.forall(_ <= 2))
    assert(batchSizes.sum == 5)
    assert(batchSizes.size >= 3)
  }

  /** Every row of the partitions planned for [s, e), partition by partition. */
  private def readPartitions(stream: BatchLogStream, s: Long, e: Long): Seq[Seq[String]] =
    stream.planInputPartitions(BatchLogOffset(s), BatchLogOffset(e)).toSeq.map { p =>
      val r = BatchLogReaderFactory.createReader(p)
      val buf = scala.collection.mutable.Buffer[String]()
      while (r.next()) buf += r.get().getUTF8String(0).toString
      buf.toSeq
    }

  test("a range of n logged batches plans min(n, P) partitions of whole batches in log order") {
    BatchLog.drop("pack"); BatchLog.create("pack")
    // batch i holds i % 3 + 1 rows "i.r", so a row names its batch
    val logged = (0 until 10).map(i => (0 to i % 3).map(r => s"$i.$r"))
    logged.foreach(BatchLog.append("pack", _))
    for (p <- Seq(1, 3, 4, 10, 16); (s, e) <- Seq((0, 10), (3, 7), (9, 10))) {
      val parts = readPartitions(new BatchLogStream("pack", parallelism = p), s, e)
      assert(parts.size == math.min(e - s, p), s"P=$p [$s,$e)")
      assert(parts.flatten == logged.slice(s, e).flatten, s"P=$p [$s,$e)")
      // no batch is split across partitions, and batch counts differ by at most one
      val batchesPer = parts.map(_.map(_.takeWhile(_ != '.')).distinct)
      assert(batchesPer.flatten.distinct.size == batchesPer.map(_.size).sum, s"P=$p [$s,$e)")
      assert(batchesPer.map(_.size).max - batchesPer.map(_.size).min <= 1, s"P=$p [$s,$e)")
    }
  }

  test("streams with different parallelism replay the same tuples for a range (restart on another core count)") {
    BatchLog.drop("repack"); BatchLog.create("repack")
    (0 until 13).foreach(i => BatchLog.append("repack", Seq.tabulate(i % 4)(r => s"x$i-$r")))
    def read(p: Int): Seq[String] =
      readPartitions(new BatchLogStream("repack", parallelism = p), 2, 13).flatten
    val one = read(1)
    BatchLog.append("repack", Seq("late")) // the log grows between the two runs
    for (p <- Seq(2, 4, 8, 64)) assert(read(p) == one, s"P=$p")
  }

  test("an empty offset range plans no partitions") {
    BatchLog.drop("empty"); BatchLog.create("empty")
    BatchLog.append("empty", Seq("a"))
    val stream = new BatchLogStream("empty", parallelism = 4)
    assert(stream.planInputPartitions(BatchLogOffset(1L), BatchLogOffset(1L)).isEmpty)
    assert(stream.planInputPartitions(BatchLogOffset(0L), BatchLogOffset(0L)).isEmpty)
  }

  test("a trigger folding 48 logged batches runs at most P map tasks and counts exactly") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val p = spark.sparkContext.defaultParallelism
    BatchLog.drop("packed-fold"); BatchLog.create("packed-fold")
    val rnd = new scala.util.Random(48)
    val logged = Seq.fill(48)(Seq.fill(5)(Seq.fill(4)(s"w${rnd.nextInt(30)}").mkString(" ")))
    logged.foreach(BatchLog.append("packed-fold", _))
    val want = logged.flatten.flatMap(_.split(' ')).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }

    val got = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    // (query id, task count) of every stage that reads the source
    val mapStages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val qid = Option(e.properties).map(_.getProperty(StreamExecution.QUERY_ID_KEY)).orNull
        e.stageInfos.filter(_.parentIds.isEmpty).foreach(s => mapStages.add((qid, s.numTasks)))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try graft.TempDirs.withTempDir("graft-packed") { ck =>
      val words = spark.readStream.format("graft.sources.BatchLogProvider")
        .option("log", "packed-fold").load().as[String].flatMap(_.split(' ').iterator)
      val q = graft.util.SessionConf.scoped(spark, "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        StateStoreRunner.withStateConfig(spark, p) {
          StateStoreRunner.runningCount[String, String](words, identity)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ck.toString)
            .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Long)], _: Long) =>
              b.collect().foreach { case (w, n) => got.put(w, n) }
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
            .start()
        }
      }
      q.processAllAvailable()
      q.stop()
      assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq == Seq(240L))
      assert(got.asScala.toMap == want)
      val deadline = System.nanoTime() + 30000000000L
      def ours = mapStages.asScala.filter(_._1 == q.id.toString).map(_._2).toSeq
      while (ours.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      assert(ours.nonEmpty && ours.forall(_ <= p), s"map stage tasks $ours, P=$p")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("maxBatchesPerTrigger must be a positive integer") {
    val table = new BatchLogTable("any")
    def scan(v: String) = table.newScanBuilder(
      new CaseInsensitiveStringMap(java.util.Map.of("maxBatchesPerTrigger", v)))
    for (v <- Seq("0", "-3", "two")) {
      val e = intercept[IllegalArgumentException](scan(v))
      assert(e.getMessage.contains("maxBatchesPerTrigger"), e.getMessage)
    }
    scan("1").build()
    // a started query fails instead of stalling at its start offset
    BatchLog.drop("stall"); BatchLog.create("stall")
    BatchLog.append("stall", Seq("a"))
    graft.TempDirs.withTempDir("graft-stall") { ck =>
      val q = spark.readStream.format("graft.sources.BatchLogProvider")
        .option("log", "stall").option("maxBatchesPerTrigger", "0").load()
        .writeStream.format("noop").option("checkpointLocation", ck.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).start()
      val e = intercept[StreamingQueryException](q.awaitTermination(30000L))
      assert(e.getCause.isInstanceOf[IllegalArgumentException], e)
      assert(e.getCause.getMessage.contains("maxBatchesPerTrigger"))
    }
  }

  test("end-to-end: readStream over the custom source into exactly-once state") {
    BatchLog.drop("e2e"); BatchLog.create("e2e")
    BatchLog.append("e2e", Seq("hello the man said", "the"))
    MemoryBackingMap.clear("bl-wc")
    val state = new OpaqueMap[Long](new MemoryBackingMap[OpaqueValue[Long]]("bl-wc"))
    val df = spark.readStream.format("graft.sources.BatchLogProvider")
      .option("log", "e2e").load()
    val words = df.select(F.explode(F.split(F.col("value"), " ")).as("word"))
    val q = StreamRunner.persistentAggregate[Long](words, Fields("word"),
      F.count(F.lit(1)).as("cnt"), _ + _, state, "bl-test",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    q.processAllAvailable()
    BatchLog.append("e2e", Seq("the man on the moon"))
    q.processAllAvailable()
    q.stop()
    val snap = MemoryBackingMap.snapshot[OpaqueValue[Long]]("bl-wc")
    assert(snap(Seq("the")).curr == 4L)
    assert(snap(Seq("moon")).curr == 1L)
  }

  test("KvStoreSink: V2 streaming write commits per epoch, replays are skipped") {
    import graft.sources.KvStoreSink
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val id = s"kv-${java.util.UUID.randomUUID()}"
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val ck = java.nio.file.Files.createTempDirectory("graft-kvsink-ck")
    try {
      val q = input.toDF().toDF("key")
        .groupBy("key").agg(F.count(F.lit(1)).as("value"))
        .writeStream
        .outputMode("update")
        .format("graft.sources.KvStoreSink")
        .option("storeId", id)
        .option("checkpointLocation", ck.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
        .start()
      input.addData("a", "b", "a")
      q.processAllAvailable()
      input.addData("a")
      q.processAllAvailable()
      q.stop()

      // update mode re-emits a key with its NEW TOTAL and the sink commit
      // overwrites that key's slot: epoch 0 wrote a→2 b→1; epoch 1 re-emitted
      // a→3 (not a +1 delta — an additive merge would land on 5)
      assert(KvStoreSink.committedEpochs(id) == Set(0L, 1L))
      val afterRun = KvStoreSink.snapshot(id)
      assert(afterRun("a") == 3L)
      assert(afterRun("b") == 1L)

      // a recovering run of the SAME query (same checkpoint → same queryId)
      // re-commits epoch 1 — the sink must recognize and skip it
      // (exactly-once on the write side)
      val replayed = graft.sources.KvStoreSink.commitEpoch(
        id, q.id.toString, 1L, Seq("a" -> 999L))
      assert(!replayed)
      assert(KvStoreSink.snapshot(id) == afterRun)

      // a DIFFERENT query writing to the same store is NOT a replay: its
      // epochs restart at 0 and its batches must land
      val fresh = graft.sources.KvStoreSink.commitEpoch(
        id, "other-query", 1L, Seq("c" -> 7L))
      assert(fresh)
      assert(KvStoreSink.snapshot(id)("c") == 7L)
      KvStoreSink.clear(id)
    } finally graft.util.Fs.deleteRecursively(ck)
  }
}
