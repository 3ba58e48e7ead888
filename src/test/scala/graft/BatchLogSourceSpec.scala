package graft.sources

import org.apache.spark.sql.SparkSession
// (KvStoreSink tests live here too — the write-side V2 counterpart)
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import graft.api.Fields
import graft.state._
import graft.streaming.StreamRunner

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
