package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.api.Fields
import graft.state.MapState
import graft.util.LocalCheckpointFileManager

/** Coordinated commit across MULTIPLE states fed by one topology —
  * SURVEY.md §7.4 hard part 2.
  *
  * Storm serializes the `$commit` stream by txid across every committer in
  * the topology (`MasterBatchCoordinator.java:121-172`), so all states
  * observe the same batch boundary. The Spark mapping: a single
  * `foreachBatch` owns every state write for the query. All sinks are
  * applied inside one batch call, in fixed registration order, under the
  * same `batchId` txid — a crash anywhere mid-batch causes Structured
  * Streaming to replay the WHOLE batch with the same id, and each state's
  * wrapper (transactional skip / opaque rollback) restores consistency
  * independently of where the previous attempt stopped.
  */
object MultiStateRunner {

  /** One keyed sink: a derivation of the micro-batch, its grouping keys, the
    * per-batch partial aggregate, and the target state. */
  final case class StateSink[T](name: String,
                                derive: DataFrame => DataFrame,
                                keys: Fields,
                                partial: Column,
                                combine: (T, T) => T,
                                state: MapState[T])

  /** Apply one micro-batch to every sink, in order, under one txid.
    * Exposed for replay tests. */
  def applyBatch(batch: DataFrame, txid: Long, sinks: Seq[StateSink[_]]): Unit = {
    // The batch may feed several derivations; materialize it once.
    batch.persist()
    try sinks.foreach { s =>
      def go[T](sink: StateSink[T]): Unit =
        StreamRunner.applyBatch[T](sink.derive(batch), txid, sink.keys,
          sink.partial, sink.combine, sink.state)
      go(s)
    } finally batch.unpersist()
  }

  def run(stream: DataFrame, sinks: Seq[StateSink[_]], queryName: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LocalCheckpointFileManager.scoped(stream.sparkSession) {
      stream.writeStream
        .queryName(queryName)
        .outputMode("update")
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          applyBatch(batch, batchId, sinks)
        }
        .start()
    }
}
