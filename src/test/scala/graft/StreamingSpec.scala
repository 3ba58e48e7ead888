package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import graft.api._
import graft.state._
import graft.streaming.StreamRunner

/** Streaming tier: persistentAggregate on Structured Streaming micro-batches
  * with exactly-once state, including replay scenarios (the foreachBatch
  * re-run contract). MemoryStream ≈ the reference's FeederBatchSpout
  * (SURVEY.md §5). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("streaming word count via MemoryStream + persistentAggregate (opaque state)") {
    MemoryBackingMap.clear("wc-stream")
    val state = new OpaqueMap[Long](new MemoryBackingMap[OpaqueValue[Long]]("wc-stream"))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    input.addData("hello the man said", "the")

    val words = new Stream(input.toDF().toDF("sentence"))
      .flatEach(F.split(F.col("sentence"), " "), "word")
      .project(Fields("word"))

    val q = StreamRunner.persistentAggregate[Long](words.toDF, Fields("word"),
      F.count(F.lit(1)).as("cnt"), _ + _, state, "wc-test",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    q.processAllAvailable()
    input.addData("the man on the moon")
    q.processAllAvailable()
    q.stop()

    val snap = MemoryBackingMap.snapshot[OpaqueValue[Long]]("wc-stream")
    def cnt(w: String): Long = snap(Seq(w)).curr
    assert(cnt("the") == 4L)   // golden from integration_test.clj:55-86
    assert(cnt("man") == 2L)
    assert(cnt("moon") == 1L)
  }

  test("replaying the same batchId is idempotent end-to-end (opaque)") {
    MemoryBackingMap.clear("replay")
    val state = new OpaqueMap[Long](new MemoryBackingMap[OpaqueValue[Long]]("replay"))
    val batch1 = Seq("a", "a", "b").toDF("word")
    StreamRunner.applyBatch[Long](batch1, 0L, Fields("word"),
      F.count(F.lit(1)).as("cnt"), _ + _, state)
    // failure → Spark re-runs batch 0; opaque spout may even feed different data
    val batch1Replay = Seq("a", "a", "a", "b").toDF("word")
    StreamRunner.applyBatch[Long](batch1Replay, 0L, Fields("word"),
      F.count(F.lit(1)).as("cnt"), _ + _, state)
    StreamRunner.applyBatch[Long](Seq("a").toDF("word"), 1L, Fields("word"),
      F.count(F.lit(1)).as("cnt"), _ + _, state)

    val snap = MemoryBackingMap.snapshot[OpaqueValue[Long]]("replay")
    assert(snap(Seq("a")).curr == 4L) // 3 (replayed batch 0 wins) + 1, NOT 2+3+1
    assert(snap(Seq("b")).curr == 1L)
  }

  test("replaying the same batchId is skipped (transactional)") {
    MemoryBackingMap.clear("replay-tx")
    val state = new TransactionalMap[Long](
      new MemoryBackingMap[TransactionalValue[Long]]("replay-tx"))
    val batch = Seq("a", "b").toDF("word")
    StreamRunner.applyBatch[Long](batch, 0L, Fields("word"),
      F.count(F.lit(1)).as("cnt"), _ + _, state)
    StreamRunner.applyBatch[Long](batch, 0L, Fields("word"),
      F.count(F.lit(1)).as("cnt"), _ + _, state)
    val snap = MemoryBackingMap.snapshot[TransactionalValue[Long]]("replay-tx")
    assert(snap(Seq("a")).value == 1L) // second application skipped
  }

  test("per-batch stream join: join scope is one micro-batch, outer pads with null") {
    implicit val sqlCtx = spark.sqlContext
    // ONE MemoryStream carries both sides (side 0 = left, 1 = right): a
    // single addData block is one source offset, so a micro-batch can never
    // split the two sides. Two separate streams fed by two addData calls
    // raced the 0ms trigger — under CPU load a batch could construct
    // BETWEEN the calls and see only the left rows (the r8 full-suite flake).
    val src = MemoryStream[(Int, Int, String)]
    val both = src.toDF().toDF("side", "k", "v")
    val l = both.where(F.col("side") === 0).select(F.col("k").as("id"), F.col("v").as("lv"))
    val r = both.where(F.col("side") === 1).select(F.col("k").as("rid"), F.col("v").as("rv"))
    val results = scala.collection.mutable.Buffer[(Long, Set[Seq[Any]])]()
    val q = graft.streaming.StreamJoinRunner.perBatchJoin(
      l, r,
      Fields("id"), Fields("rid"), Fields("k", "lv", "rv"), "full_outer",
      "pbj-test",
      (df, id) => results.synchronized {
        results += ((id, df.collect().map(_.toSeq).toSet)); ()
      },
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))

    src.addData((0, 1, "a"), (0, 2, "b"), (1, 1, "x"), (1, 3, "z"))
    q.processAllAvailable()
    // next batch: key 2 appears on the right — but batch scope means it
    // does NOT join with the earlier left (2, "b")
    src.addData((0, 4, "c"), (1, 2, "y"))
    q.processAllAvailable()
    q.stop()

    val all = results.toSeq.sortBy(_._1).map(_._2).filter(_.nonEmpty)
    assert(all.head == Set(Seq(1, "a", "x"), Seq(2, "b", null), Seq(3, null, "z")))
    assert(all(1) == Set(Seq(4, "c", null), Seq(2, null, "y")))
  }

  test("stream-stream join holds state ACROSS batches (native watermark join)") {
    implicit val sqlCtx = spark.sqlContext
    val l = MemoryStream[(Int, Long, String)]
    val r = MemoryStream[(Int, Long, String)]
    def withTs(df: org.apache.spark.sql.DataFrame, prefix: String) =
      df.toDF(s"${prefix}id", s"${prefix}sec", s"${prefix}v")
        .withColumn(s"${prefix}ts", F.timestamp_seconds(F.col(s"${prefix}sec")))
    val joined = graft.streaming.StreamJoinRunner.streamStreamJoin(
      withTs(l.toDF(), "l"), withTs(r.toDF(), "r"),
      "lts", "rts", "10 seconds",
      F.expr("lid = rid AND rts BETWEEN lts AND lts + INTERVAL 30 SECONDS"))
    val results = scala.collection.mutable.Buffer[(String, String)]()
    val q = joined.writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.select("lv", "rv").collect().map(x => (x.getString(0), x.getString(1)))
        results.synchronized { results ++= rows }; ()
      }
      .start()
    l.addData((1, 100L, "a"), (2, 100L, "b"))
    q.processAllAvailable()
    // the matching right row arrives a LATER batch — per-batch join scope
    // would miss it; the watermarked join's state store does not
    r.addData((1, 110L, "x"))
    q.processAllAvailable()
    q.stop()
    assert(results.toSet == Set(("a", "x")))
  }

  test("exactly-once parquet sink: batch replay overwrites, never duplicates") {
    import spark.implicits._
    TempDirs.withTempDir("eo-sink") { path =>
      val dir = path.toString
      // batch 0, then batch 1 (a partial attempt), then batch 1 replayed with
      // the full data — the recovering-query pattern
      graft.streaming.StreamRunner.exactlyOnceParquetBatch(
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L, dir)
      graft.streaming.StreamRunner.exactlyOnceParquetBatch(
        Seq((3L, "partial")).toDF("id", "v"), 1L, dir)
      graft.streaming.StreamRunner.exactlyOnceParquetBatch(
        Seq((3L, "c"), (4L, "d")).toDF("id", "v"), 1L, dir)
      val rows = spark.read.parquet(dir)
        .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
      // and batch 0's output was untouched by batch 1's overwrite
      assert(spark.read.parquet(dir).where(F.col("__batch_id") === 0).count() == 2)
    }
  }

  test("rolling top words: sliding-window counts + native topK per window") {
    // the reference's canonical RollingTopWords demo, Spark-first: hopping
    // windows → streaming count → per-window top-2 via the TopK operator
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val counted = input.toDF().toDF("word", "sec")
      .withColumn("ts", F.timestamp_seconds(F.col("sec")))
      .withWatermark("ts", "0 seconds")
      .groupBy(F.window(F.col("ts"), "20 seconds", "10 seconds"), F.col("word"))
      .agg(F.count(F.lit(1)).as("cnt"))
      .select(F.col("window.start").cast("long").as("w"), F.col("word"), F.col("cnt"))
    val results = scala.collection.mutable.Buffer[(Long, String, Long)]()
    val q = counted.writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val top = graft.plans.TopK.topKPerKey(batch, Seq("w"), "cnt",
          desc = true, tieBreak = Seq("word"), k = 2)
        results.synchronized {
          results ++= top.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        }; ()
      }.start()

    input.addData(("a", 105L), ("a", 106L), ("b", 107L), ("b", 108L), ("b", 109L), ("c", 105L))
    q.processAllAvailable()
    input.addData(("z", 200L)) // advance watermark → windows close and emit
    q.processAllAvailable()
    q.stop()

    // window [100,120) saw a:2 b:3 c:1 → top-2 = b, a (in both covering windows)
    val w100 = results.filter(_._1 == 100L).map(r => (r._2, r._3)).toSet
    assert(w100 == Set(("b", 3L), ("a", 2L)))
  }

  test("global persistentAggregate maintains a snapshottable single value") {
    MemoryBackingMap.clear("glob")
    val state = new OpaqueMap[Long](new MemoryBackingMap[OpaqueValue[Long]]("glob"))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Int]
    input.addData(1, 2, 3)
    val q = StreamRunner.persistentAggregateGlobal[Long](input.toDF(),
      F.count(F.lit(1)).as("cnt"), _ + _, state, "glob-test",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    q.processAllAvailable()
    input.addData(4, 5)
    q.processAllAvailable()
    q.stop()
    val snap = new SnapshottableMap[Long](state)
    assert(snap.get.contains(5L))
  }

  test("streaming exact dedup: first-seen-wins across micro-batches, normalized fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = scala.collection.mutable.Buffer[Long]()
    val deduped = graft.functions.Dedup.streamingExactDedup(
      input.toDF().toDF("id", "text"), "text")
    assert(deduped.columns.toSeq == Seq("id", "text")) // working column dropped
    val q = deduped.writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.select("id").as[Long].collect() }; ()
      }.start()
    input.addData((1L, "alpha beta"), (3L, "gamma"))
    q.processAllAvailable()
    // "ALPHA   beta " normalizes to doc 1's fingerprint → dropped across batches
    input.addData((4L, "ALPHA   beta "), (5L, "delta"))
    q.processAllAvailable()
    q.stop()
    assert(out.sorted.toSeq == Seq(1L, 3L, 5L))
  }

  test("bounded streaming dedup: drops within the watermark horizon, re-admits after it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val out = scala.collection.mutable.Buffer[Long]()
    val deduped = graft.functions.Dedup.streamingExactDedupBounded(
      input.toDF().toDF("id", "sec", "text")
        .withColumn("ts", F.timestamp_seconds(F.col("sec"))),
      "text", "ts", "10 seconds")
    val q = deduped.writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.select("id").as[Long].collect() }; ()
      }.start()
    input.addData((1L, 100L, "a b"), (2L, 100L, "c"))
    q.processAllAvailable()
    // watermark after batch 1 = 100-10s: doc 1's fingerprint state is live,
    // so the t=105 duplicate drops; t=200 advances the watermark to 190
    input.addData((3L, 105L, "a b"), (4L, 200L, "fresh"))
    q.processAllAvailable()
    // fingerprint state from t=100 expired at watermark 190 → re-admitted
    // (the documented bounded-state trade)
    input.addData((5L, 300L, "a b"))
    q.processAllAvailable()
    q.stop()
    assert(out.sorted.toSeq == Seq(1L, 2L, 4L, 5L))
  }

  test("streaming perceptual dedup: a later re-encode drops on the hash; undecodables pass through") {
    import graft.functions.Multimodal
    implicit val sqlCtx = spark.sqlContext
    // within-cell byte reversal (the q171 re-encode): different bytes,
    // identical average-hash by construction
    def cellReverse(t: String): String = {
      val n = t.length
      val sb = new java.lang.StringBuilder(n)
      var c = 0
      while (c < 64) {
        val lo = ((c.toLong * n + 63) / 64).toInt
        val hi = (((c + 1).toLong * n + 63) / 64).toInt
        var i = hi - 1
        while (i >= lo) { sb.append(t.charAt(i)); i -= 1 }
        c += 1
      }
      sb.toString
    }
    val base = "az" * 64 // 128 chars: every 2-char cell "az" reverses to "za"
    assert(cellReverse(base) != base) // genuinely re-encoded, not byte-identical
    val input = MemoryStream[(Long, String)]
    val out = scala.collection.mutable.Buffer[Long]()
    val deduped = Multimodal.streamingPerceptualDedup(
      input.toDF().toDF("id", "text")
        .select(F.col("id"), Multimodal.fakePayload(F.col("text")).as("payload")),
      "payload")
    assert(deduped.columns.toSeq == Seq("id", "payload")) // hash columns dropped
    val q = deduped.writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.select("id").as[Long].collect() }; ()
      }.start()
    input.addData((1L, base), (2L, "b" * 64 + "y" * 64))
    q.processAllAvailable()
    // the re-encode of doc 1 (different bytes, same 64-cell hash) drops
    // across micro-batches; two EMPTY payloads are undecodable → BOTH pass
    input.addData((3L, cellReverse(base)), (4L, ""), (5L, ""))
    q.processAllAvailable()
    q.stop()
    assert(out.sorted.toSeq == Seq(1L, 2L, 4L, 5L))
  }

  test("bounded streaming perceptual dedup: re-encode drops within the watermark horizon, re-admits after it") {
    import graft.functions.Multimodal
    implicit val sqlCtx = spark.sqlContext
    // same cell-reversal re-encode construction as the unbounded test
    def cellReverse(t: String): String = {
      val n = t.length
      val sb = new java.lang.StringBuilder(n)
      var c = 0
      while (c < 64) {
        val lo = ((c.toLong * n + 63) / 64).toInt
        val hi = (((c + 1).toLong * n + 63) / 64).toInt
        var i = hi - 1
        while (i >= lo) { sb.append(t.charAt(i)); i -= 1 }
        c += 1
      }
      sb.toString
    }
    val base = "az" * 64
    val input = MemoryStream[(Long, Long, String)]
    val out = scala.collection.mutable.Buffer[Long]()
    val deduped = Multimodal.streamingPerceptualDedupBounded(
      input.toDF().toDF("id", "sec", "text")
        .select(F.col("id"), F.timestamp_seconds(F.col("sec")).as("ts"),
          Multimodal.fakePayload(F.col("text")).as("payload")),
      "payload", "ts", "10 seconds")
    assert(deduped.columns.toSeq == Seq("id", "ts", "payload"))
    val q = deduped.writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.select("id").as[Long].collect() }; ()
      }.start()
    input.addData((1L, 100L, base), (2L, 100L, "b" * 64 + "y" * 64))
    q.processAllAvailable()
    // watermark after batch 1 = 90: doc 1's hash state is live, so the
    // t=105 re-encode drops; t=200 advances the watermark to 190; the
    // empty payload is undecodable and passes regardless
    input.addData((3L, 105L, cellReverse(base)), (4L, 200L, "fresh" * 30),
      (5L, 105L, ""))
    q.processAllAvailable()
    // hash state from t=100 expired at watermark 190 → the late re-encode
    // is re-admitted (the documented bounded-state trade)
    input.addData((6L, 300L, cellReverse(base)))
    q.processAllAvailable()
    q.stop()
    assert(out.sorted.toSeq == Seq(1L, 2L, 4L, 5L, 6L))
  }
}
