package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.util.LocalCheckpointFileManager

/** Continuous-processing face — the low-latency per-tuple execution mode.
  *
  * The reference runs every non-Trident topology tuple-at-a-time through
  * its executor loop (`daemon/executor.clj:315-656`): a tuple flows
  * spout → bolt with per-tuple acking, no batch boundary. Spark's analog is
  * `Trigger.Continuous` — long-running tasks that process rows as they
  * arrive and checkpoint by epoch markers (Chandy-Lamport style) instead of
  * per-trigger planning, for ~millisecond end-to-end latency.
  *
  * SUPPORTED OPERATOR SUBSET (engine-enforced, documented here as the
  * contract): only STATELESS row-local 1:1 operators run continuously —
  * `project`/`each`/`where`/filters and any deterministic Column
  * expression (the reference's function/filter bolt tier). NOT supported:
  * `flatEach` (Spark rejects Generate in continuous mode — verified in
  * ContinuousSpec), aggregations, joins, dedup/distinct, windowing,
  * `mapGroupsWithState` — anything 1:N, shuffling, or stateful; those run
  * in micro-batch mode (the Trident tier, every other runner in this
  * package). Sources: rate (+ Kafka in a real deployment); sinks:
  * memory/console (+ Kafka).
  *
  * At scale: each partition becomes ONE never-ending task, so parallelism
  * is fixed at start — size source partitions to the executor count, and
  * keep per-row work codegen-friendly (same rules as the batch tier).
  */
object ContinuousRunner {

  /** Start `transform` (stateless operators only — see object doc) over a
    * rate source in continuous mode, into an in-memory table `queryName`.
    * `epochMs` is the checkpoint epoch interval, not a batch cadence — rows
    * flow through without waiting for it. */
  def runRate(spark: SparkSession, rowsPerSecond: Long, numPartitions: Int,
      queryName: String, checkpointDir: String, epochMs: Long = 1000L)(
      transform: DataFrame => DataFrame): StreamingQuery = {
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .option("numPartitions", numPartitions.toString)
      .load()
    LocalCheckpointFileManager.scoped(spark) {
      transform(src).writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode("append")
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.Continuous(epochMs))
        .start()
    }
  }
}
