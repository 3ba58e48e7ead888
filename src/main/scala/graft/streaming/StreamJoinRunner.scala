package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.api.{Fields, Stream}
import graft.util.LocalCheckpointFileManager

/** Streaming face of the per-batch join — `TridentTopology.join` semantics
  * (`JoinerMultiReducer.java:32-158`): the join scope is a SINGLE batch,
  * not cross-batch (SURVEY.md §2.6; cross-batch stream-stream joins are
  * Spark watermark joins, beyond reference semantics).
  *
  * Both sources are tagged and unioned into ONE streaming query, so every
  * micro-batch contains that trigger's tuples from both sides — the same
  * co-batching the reference gets from its shared txid. Inside
  * `foreachBatch` the sides are split back out and equi-joined with the
  * batch-face `Stream.join` (ComboList output naming, INNER or OUTER with
  * null padding).
  */
object StreamJoinRunner {

  def perBatchJoin(left: DataFrame, right: DataFrame,
                   leftKeys: Fields, rightKeys: Fields, outFields: Fields,
                   joinType: String, queryName: String,
                   sink: (DataFrame, Long) => Unit,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val lStruct = F.struct(left.columns.map(F.col).toIndexedSeq: _*)
    val rStruct = F.struct(right.columns.map(F.col).toIndexedSeq: _*)
    val lSchema = left.schema
    val rSchema = right.schema
    val tagged = left.select(F.lit(0).as("__src"), lStruct.as("__l"),
        F.lit(null).cast(org.apache.spark.sql.types.StructType(rSchema)).as("__r"))
      .unionByName(right.select(F.lit(1).as("__src"),
        F.lit(null).cast(org.apache.spark.sql.types.StructType(lSchema)).as("__l"),
        rStruct.as("__r")))
    LocalCheckpointFileManager.scoped(left.sparkSession) {
      tagged.writeStream
        .queryName(queryName)
        .outputMode("append")
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val l = batch.where(F.col("__src") === 0).select("__l.*")
          val r = batch.where(F.col("__src") === 1).select("__r.*")
          val joined = new Stream(l).join(new Stream(r), leftKeys, rightKeys,
            outFields, joinType)
          sink(joined.toDF, batchId)
        }
        .start()
    }
  }

  /** Cross-batch stream-stream join — the Spark-native upgrade the
    * reference cannot express (its join scope ends at the batch boundary;
    * `JoinerMultiReducer.java` keeps no cross-batch state). Both sides are
    * watermarked so the state store can evict: rows older than the
    * watermark minus the join's time bound are dropped from state, which is
    * what makes the operator runnable forever at scale — an unwatermarked
    * stream-stream join grows state without bound. The caller's `extraCond`
    * should carry a time-range bound between the two event-time columns
    * (e.g. `r.ts BETWEEN l.ts AND l.ts + INTERVAL 1 HOUR`) so eviction has
    * a bound to work with; equality keys alone keep state forever.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, delayThreshold: String,
      condition: Column, joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, delayThreshold)
      .join(right.withWatermark(rightTs, delayThreshold), condition, joinType)
}
