package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{Fields, Stream}
import graft.api.Operations.ColumnFunction
import graft.streaming.ContinuousRunner

/** Continuous-processing mode (`Trigger.Continuous`) — the per-tuple
  * low-latency path (`daemon/executor.clj:315-656` analog). Covers the
  * stateless operator subset the engine supports continuously:
  * project / each (Column tier) / where. */
class ContinuousSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("Trigger.Continuous runs each/where/project per-tuple into a memory sink") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cont").toString
    try {
      val q = ContinuousRunner.runRate(spark, rowsPerSecond = 200,
        numPartitions = 2, queryName = "cont_smoke", checkpointDir = ckpt,
        epochMs = 300L) { src =>
        new Stream(src)
          .project(Fields("value"))
          .each(Fields("value"), new ColumnFunction {
            def exprs(in: Seq[org.apache.spark.sql.Column]) = Seq(in.head * 10)
          }, Fields("tenx"))
          .where(F.col("value") % 2 === 0)
          .toDF
      }
      try {
        val deadline = System.currentTimeMillis() + 60000L
        def count(): Long = spark.table("cont_smoke").count()
        while (count() < 10 && System.currentTimeMillis() < deadline) Thread.sleep(200L)
        assert(q.isActive, s"continuous query died: ${Option(q.exception.orNull)}")
        val rows = spark.table("cont_smoke")
          .select("value", "tenx").collect()
        assert(rows.length >= 10, "continuous pipeline produced too few rows")
        assert(rows.forall(r => r.getLong(0) % 2 == 0), "where() not applied")
        assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 10), "each() not applied")
      } finally q.stop()
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(ckpt))
  }

  test("continuous mode rejects stateful operators (documented subset)") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cont2").toString
    try {
      // an aggregation cannot run continuously — the engine must refuse it
      // (which is why the runner's contract limits to stateless operators)
      val err = intercept[Exception] {
        val q = ContinuousRunner.runRate(spark, 10, 1, "cont_bad", ckpt) { src =>
          src.groupBy("value").count()
        }
        try q.awaitTermination(15000L) finally q.stop()
      }
      assert(err.getMessage != null)
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(ckpt))
  }

  test("Trigger.Continuous runs object-tier flatEachRows (1:N) per-tuple") {
    import org.apache.spark.sql.types._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cont-fm").toString
    try {
      val outSchema = StructType(Seq(
        StructField("v", LongType), StructField("tag", IntegerType)))
      val q = ContinuousRunner.runRate(spark, rowsPerSecond = 200,
        numPartitions = 2, queryName = "cont_fm", checkpointDir = ckpt,
        epochMs = 300L) { src =>
        new Stream(src.select("value"))
          .flatEachRows(outSchema)(r =>
            Seq(org.apache.spark.sql.Row(r.getLong(0), 0),
              org.apache.spark.sql.Row(r.getLong(0), 1)))
          .toDF
      }
      try {
        val deadline = System.currentTimeMillis() + 60000L
        while (spark.table("cont_fm").count() < 20 && System.currentTimeMillis() < deadline)
          Thread.sleep(200L)
        assert(q.isActive, s"continuous query died: ${Option(q.exception.orNull)}")
        val rows = spark.table("cont_fm").collect().map(r => (r.getLong(0), r.getInt(1)))
        assert(rows.length >= 20)
        // each input value emitted exactly its two tagged twins
        val byV = rows.groupBy(_._1)
        assert(byV.values.forall(g => g.map(_._2).sorted.sameElements(Array(0, 1))),
          "a value arrived without exactly its two tagged emits")
      } finally q.stop()
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(ckpt))
  }

  test("continuous mode rejects flatEach (Generate) — 1:1 operators only") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cont3").toString
    try {
      val err = intercept[Exception] {
        val q = ContinuousRunner.runRate(spark, 10, 1, "cont_flat_bad", ckpt) { src =>
          new Stream(src).flatEach(F.array(F.col("value"), F.col("value") * 100), "v").toDF
        }
        try q.awaitTermination(15000L) finally q.stop()
      }
      assert(err.getMessage.contains("Generate"),
        s"expected the Generate rejection, got: ${err.getMessage}")
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(ckpt))
  }
}
