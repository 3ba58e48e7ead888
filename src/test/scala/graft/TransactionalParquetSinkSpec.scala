package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.TransactionalParquetSink

/** Manifest-committed parquet sink: replayed batch ids are skipped, crashed
  * attempts stay invisible to readers — the durable face of the
  * skip-if-committed contract (`TransactionalMap.java:40-95`,
  * `ICommitterTridentSpout.java:24-39`). */
class TransactionalParquetSinkSpec extends AnyFunSuite {

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("replayed batchId is skipped; orphan attempts are invisible and vacuumable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-txsink").toString
    try {

      assert(TransactionalParquetSink.writeBatch(Seq((0L, "a"), (1L, "b")).toDF("k", "v"), 0L, dir))
      assert(TransactionalParquetSink.writeBatch(Seq((2L, "c")).toDF("k", "v"), 1L, dir))

      // a crashed attempt: data files written but no manifest (simulate by
      // writing parquet under an attempt-style name directly)
      Seq((99L, "ORPHAN")).toDF("k", "v").write
        .parquet(s"$dir/batch-2-deadbeef-crashed-attempt")

      // replay of batch 1 with PERTURBED contents: must be skipped entirely
      assert(!TransactionalParquetSink.writeBatch(Seq((3L, "X")).toDF("k", "v"), 1L, dir))

      val rows = TransactionalParquetSink.read(spark, dir)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(rows == Seq((0L, "a"), (1L, "b"), (2L, "c"))) // no orphan, no replay dupes
      assert(TransactionalParquetSink.committedBatchIds(dir) == Seq(0L, 1L))

      // default retention window protects a possibly-in-flight write...
      assert(TransactionalParquetSink.vacuum(dir) == 0)
      // ...retention 0 (no live writers) reaps the crashed attempt
      assert(TransactionalParquetSink.vacuum(dir, 0) == 1)
      assert(TransactionalParquetSink.vacuum(dir, 0) == 0) // idempotent
      // committed data untouched by vacuum
      assert(TransactionalParquetSink.read(spark, dir).count() == 3)
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("persistFiles: a real streaming query lands micro-batches through the manifest commit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-txsink3").toString
    try {
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      input.addData(1L, 2L, 3L)
      val q = graft.streaming.StreamRunner.persistFiles(
        input.toDS().toDF("n"), dir, "sink-drill",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      q.processAllAvailable()
      input.addData(4L, 5L)
      q.processAllAvailable()
      q.stop()
      val got = TransactionalParquetSink.read(spark, dir).as[Long].collect().sorted.toSeq
      assert(got == Seq(1L, 2L, 3L, 4L, 5L))
      assert(TransactionalParquetSink.committedBatchIds(dir).size >= 2)
      // the checkpoint defaults INTO the sink dir: batch numbering survives a
      // process restart, so the manifest can't swallow new batches as replays
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "_checkpoint")))
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("concurrent writers racing one batchId: exactly one commits (hard-link put-if-absent)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-txsink4").toString
    try {
      val nThreads = 6
      val barrier = new java.util.concurrent.CyclicBarrier(nThreads)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
      try {
        val futures = (0 until nThreads).map { i =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              val df = Seq((i.toLong, s"writer-$i")).toDF("k", "v")
              barrier.await() // maximize the TOCTOU window past the exists() check
              TransactionalParquetSink.writeBatch(df, 9L, dir)
            }
          })
        }
        val wins = futures.map(_.get()).count(identity)
        assert(wins == 1, s"expected exactly one committed writer, got $wins")
        // the committed table is exactly ONE writer's single row
        val rows = TransactionalParquetSink.read(spark, dir).as[(Long, String)].collect()
        assert(rows.length == 1 && rows.head._2.startsWith("writer-"))
        assert(TransactionalParquetSink.committedBatchIds(dir) == Seq(9L))
        // losers cleaned their own attempts: nothing left for vacuum
        assert(TransactionalParquetSink.vacuum(dir, 0) == 0)
      } finally pool.shutdown()
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("foreachBatch-style drive: a re-run query re-delivering old batches stays exactly-once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-txsink2").toString
    try {
      // first run delivers batches 0..2, crashes, restart re-delivers 1..3
      (0 to 2).foreach(i => TransactionalParquetSink.writeBatch(
        Seq((i.toLong, s"run1-$i")).toDF("k", "v"), i.toLong, dir))
      (1 to 3).foreach(i => TransactionalParquetSink.writeBatch(
        Seq((i.toLong, s"run2-$i")).toDF("k", "v"), i.toLong, dir))
      val got = TransactionalParquetSink.read(spark, dir)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      // batches 1,2 keep their FIRST committed contents; only 3 is new
      assert(got == Seq((0L, "run1-0"), (1L, "run1-1"), (2L, "run1-2"), (3L, "run2-3")))
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
