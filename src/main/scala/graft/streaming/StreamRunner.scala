package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.api.Fields
import graft.state._
import graft.util.LocalCheckpointFileManager

/** Streaming execution of `persistentAggregate` — Trident's stateful sink
  * tier (`Stream.java:282-318`, `GroupedStream.java:86-121`,
  * `MapCombinerAggStateUpdater`) on Structured Streaming.
  *
  * Shape per micro-batch (inside `foreachBatch`):
  *   1. Spark computes the batch's PARTIAL per-key aggregate declaratively
  *      (Catalyst partial/final HashAggregate — map-side combine for free;
  *      this is the reference's `CombinerAggregator` partial tier).
  *   2. The partials are folded into the keyed [[MapState]] with the
  *      `batchId` as txid under `beginCommit/commit` bracketing. The
  *      Opaque/Transactional wrappers make the fold idempotent across
  *      replays — `foreachBatch` re-runs a failed batch with the SAME
  *      batchId, which is exactly the reference's `TransactionAttempt`
  *      replay contract (`MasterBatchCoordinator.java:121-172` commit
  *      ordering ≡ Structured Streaming's strictly ordered batchIds).
  *
  * The in-memory state here is the test fixture (reference
  * `MemoryMapState`); a cluster deployment points the same wrappers at an
  * external `IBackingMap`, or replaces this path with `transformWithState`
  * + an idempotent sink. The aggregation itself stays distributed — only
  * the per-key PARTIALS of one micro-batch cross to the state writer.
  */
object StreamRunner {

  /** Apply one micro-batch to keyed state. Exposed separately so tests can
    * drive replay scenarios (same txid twice, perturbed contents) directly —
    * the port of `state_test.clj:58-98`.
    *
    * Distributed write path: the per-key partials stay hash-partitioned by
    * key and each partition bulk-writes ITS keys against the state handle
    * (serialized post-`beginCommit`, so every task carries the txid) — the
    * same key-partitioned committer layout as the reference's
    * `partitionPersist` bolts. Nothing but the commit bracket runs on the
    * driver; with K distinct keys per batch the writers move O(K) partial
    * rows, never the batch. Chunk bulk calls with [[MicroBatchBackingMap]]
    * when the backing store needs bounded requests. */
  def applyBatch[T](batch: DataFrame, txid: Long, keys: Fields, partial: Column,
                    combine: (T, T) => T, state: MapState[T]): Unit = {
    val keyCols = keys.names.map(F.col)
    val agg = batch.groupBy(keyCols: _*).agg(partial.as("__partial"))
    val nKeys = keys.size
    state.beginCommit(Some(txid))
    // the final HashAggregate is already hash-partitioned by the keys —
    // no extra exchange before the partition-local state writes
    agg.foreachPartition { (it: Iterator[Row]) =>
      // a key whose rows were all null aggregates to a null partial (e.g.
      // min of nulls) — it contributes nothing; unboxing it would write a
      // phantom zero (same guard the global variant applies)
      val rows = it.filterNot(_.isNullAt(nKeys)).toVector
      if (rows.nonEmpty) {
        val ks = rows.map(r => (0 until nKeys).map(r.get): Seq[Any])
        val updaters = rows.map(r =>
          CombinerValueUpdater[T](r.getAs[T](nKeys), combine))
        state.multiUpdate(ks, updaters)
        ()
      }
    }
    state.commit(Some(txid))
  }

  /** `groupBy(keys).persistentAggregate(state, agg)` on a streaming frame. */
  def persistentAggregate[T](stream: DataFrame, keys: Fields, partial: Column,
                             combine: (T, T) => T, state: MapState[T],
                             queryName: String,
                             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LocalCheckpointFileManager.scoped(stream.sparkSession) {
      stream.writeStream
        .queryName(queryName)
        .outputMode("update")
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          applyBatch(batch, batchId, keys, partial, combine, state)
        }
        .start()
    }

  /** Global (non-grouped) `persistentAggregate` → `SnapshottableMap`
    * (`Stream.java:282-301`, `$GLOBAL$` key). */
  def persistentAggregateGlobal[T](stream: DataFrame, partial: Column,
                                   combine: (T, T) => T, state: MapState[T],
                                   queryName: String,
                                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LocalCheckpointFileManager.scoped(stream.sparkSession) {
      stream.writeStream
        .queryName(queryName)
        .outputMode("update")
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val snap = new SnapshottableMap[T](state)
          val rows = batch.agg(partial.as("__partial")).collect()
          state.beginCommit(Some(batchId))
          if (rows.nonEmpty && !rows.head.isNullAt(0)) {
            snap.update(CombinerValueUpdater[T](rows.head.getAs[T](0), combine))
          }
          state.commit(Some(batchId))
        }
        .start()
    }

  /** File-sink face of `partitionPersist`: each micro-batch commits to a
    * [[graft.sources.TransactionalParquetSink]] directory exactly once —
    * the checkpoint WAL replays a failed batch under the SAME batchId, and
    * the sink's manifest skips already-committed ids, so crash/restart
    * cannot duplicate output rows (the durable mirror of [[KvStoreSink]]'s
    * epoch commit; reference contract `ICommitterTridentSpout.java:24-39`).
    *
    * The checkpoint lives INSIDE the sink directory by default
    * (`dir/_checkpoint`) and is what makes the manifest sound across
    * process restarts: a fresh/temp checkpoint would renumber batches from
    * 0 and the persistent manifest would silently swallow the new batches
    * as replays. Override `checkpointDir` only to relocate it — never to
    * detach the two lifecycles. */
  def persistFiles(stream: DataFrame, dir: String, queryName: String,
                   trigger: Trigger = Trigger.AvailableNow(),
                   checkpointDir: String = ""): StreamingQuery =
    LocalCheckpointFileManager.scoped(stream.sparkSession) {
      stream.writeStream
        .queryName(queryName)
        .outputMode("append")
        .option("checkpointLocation",
          if (checkpointDir.nonEmpty) checkpointDir
          else java.nio.file.Paths.get(dir, "_checkpoint").toString)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.sources.TransactionalParquetSink.writeBatch(batch, batchId, dir)
          ()
        }
        .start()
    }

  /** `partitionPersist(stateFactory, inputFields, StateUpdater, newFields)`
    * — the raw sink tier (`Stream.java:170-193`,
    * `PartitionPersistProcessor.java:36-106`): the user's `StateUpdater`
    * sees every tuple of the batch and writes state however it likes,
    * bracketed by `beginCommit(txid)/commit(txid)`. Use
    * [[persistentAggregate]] when the write is an aggregate fold — it ships
    * only per-key partials; this raw tier ships the batch's projected
    * tuples to the state writer, exactly like the reference's committer
    * bolt receiving the batch. */
  def partitionPersist[S <: MapState[_]](stream: DataFrame, in: Fields, state: S,
                                         updater: StateUpdater[S], queryName: String,
                                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LocalCheckpointFileManager.scoped(stream.sparkSession) {
      stream.writeStream
        .queryName(queryName)
        .outputMode("update")
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          partitionPersistBatch(batch, batchId, in, state, updater)
        }
        .start()
    }

  /** One batch of [[partitionPersist]] — exposed for replay tests.
    *
    * Distributed: the `StateUpdater` runs ON THE EXECUTORS, once per
    * partition with that partition's tuples, against the state handle
    * serialized post-`beginCommit` (so every task carries the txid) — the
    * reference's per-partition committer layout
    * (`PartitionPersistProcessor.java:36-106`). Only the commit bracket
    * runs on the driver; the batch itself never collects, so a fat
    * micro-batch can't OOM the driver at scale.
    *
    * Contract (same as the reference): if the updater folds per-key
    * transactional state, the input must be KEY-PARTITIONED upstream
    * (`partitionBy`/`groupBy`) — a key written from two partitions under
    * one txid reads as a replay in the second writer and is skipped. */
  def partitionPersistBatch[S <: MapState[_]](batch: DataFrame, txid: Long,
                                              in: Fields, state: S,
                                              updater: StateUpdater[S]): Unit = {
    val proj = batch.select(in.names.map(F.col): _*)
    state.beginCommit(Some(txid))
    proj.foreachPartition { (it: Iterator[Row]) =>
      val tuples = it.map(_.toSeq).toVector
      if (tuples.nonEmpty) { updater.updateState(state, tuples); () }
    }
    state.commit(Some(txid))
  }

  /** Exactly-once FILE sink: each micro-batch lands in its own
    * `__batch_id=<txid>` partition directory via dynamic partition
    * overwrite, so a replayed batch OVERWRITES its previous (possibly
    * partial) output instead of appending duplicates — the file-sink
    * analog of the transactional MapState contract (same txid ⇒ same
    * durable result). Readers see the union of batch partitions;
    * downstream jobs prune on `__batch_id` like any partition column. */
  def exactlyOnceParquetSink(stream: DataFrame, path: String, queryName: String,
                             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    LocalCheckpointFileManager.scoped(stream.sparkSession) {
      stream.writeStream
        .queryName(queryName)
        .outputMode("append")
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          exactlyOnceParquetBatch(batch, batchId, path)
        }
        .start()
    }

  /** One batch of [[exactlyOnceParquetSink]] — exposed for replay tests. */
  def exactlyOnceParquetBatch(batch: DataFrame, txid: Long, path: String): Unit =
    batch.withColumn("__batch_id", F.lit(txid))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id")
      .parquet(path)

  /** Materialize a keyed MapState as a DataFrame — `TridentState
    * .newValuesStream` (TridentState.java:32) / the input to `stateQuery`. */
  def stateToDF(spark: SparkSession, snapshot: Map[Seq[Any], Any],
                keys: Fields, valueField: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val rows = snapshot.toSeq.map { case (k, v) => Row.fromSeq(k :+ v) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 5000 + 1)), schema)
  }
}
