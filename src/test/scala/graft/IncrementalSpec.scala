package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Incremental batch processing: Trigger.AvailableNow over a file source +
  * a checkpoint = "process exactly the files that arrived since the last
  * run, then stop" — the daily-drop ingestion pattern at corpus scale (no
  * reprocessing, no bookkeeping tables; the offset log is the bookkeeping).
  * Plus the observability hook: per-batch row counts via the progress API.
  */
class IncrementalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("AvailableNow + checkpoint processes each file drop exactly once") {
    TempDirs.withTempDir("inc-in") { inDir => TempDirs.withTempDir("inc-ck") { ckDir =>
      val in = inDir.toString
      val ckpt = ckDir.toString
      val seen = scala.collection.mutable.Buffer[Long]()

      def runOnce(): Unit = {
        val q = graft.sources.Sources.parquetStream(spark, in)
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            seen.synchronized { seen ++= b.select("id").collect().map(_.getLong(0)) }; ()
          }
          .start()
        q.awaitTermination()
      }

      Seq(1L, 2L).toDF("id").write.mode("append").parquet(in)
      runOnce()
      assert(seen.sorted == Seq(1L, 2L))

      Seq(3L).toDF("id").write.mode("append").parquet(in)
      runOnce() // second run: ONLY the new file
      assert(seen.sorted == Seq(1L, 2L, 3L))

      runOnce() // nothing new: no reprocessing
      assert(seen.sorted == Seq(1L, 2L, 3L))
    }}
  }

  test("streaming progress exposes per-batch input row counts (metrics surface)") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = input.toDF().writeStream
      .outputMode("append")
      .format("noop")
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    input.addData(1L, 2L, 3L)
    q.processAllAvailable()
    val rows = q.recentProgress.map(_.numInputRows).sum
    q.stop()
    assert(rows == 3L)
  }
}
