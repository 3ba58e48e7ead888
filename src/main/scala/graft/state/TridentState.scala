package graft.state

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}
import graft.api.{Fields, StaticState, Stream}

/** Materialized keyed state handle — the analog of `TridentState`
  * (`storm/trident/TridentState.java:23`): what `persistentAggregate`
  * returns, queryable via `stateQuery` and re-streamable via
  * `newValuesStream` (TridentState.java:32).
  */
final class TridentState[T](val mapState: MapState[T], val storeId: String,
                            val keys: Fields, val valueField: String) {

  /** Snapshot the keyed store as a DataFrame through the backing's
    * [[ScannableBacking]] scan face (memory, disk-durable, or any
    * custom store that exposes one) — a non-scannable backing fails
    * LOUDLY here instead of quietly producing empty state. */
  def toDF(spark: SparkSession, schema: StructType): DataFrame = {
    val rows = mapState.scanAll().map {
      case (k, v) => Row.fromSeq(k :+ unwrap(v))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      math.max(1, rows.size / 5000 + 1)), schema)
  }

  private def unwrap(v: Any): Any = v match {
    case OpaqueValue(_, curr, _) => curr
    case TransactionalValue(_, value) => value
    case other => other
  }

  /** `TridentState` → `StaticState` for `stateQuery` joins. */
  def asStaticState(spark: SparkSession, schema: StructType,
                    broadcastable: Boolean = true): StaticState =
    StaticState(toDF(spark, schema), keys, Fields(Seq(valueField)), broadcastable)

  /** `newValuesStream()` — re-stream the committed (key, value) tuples. */
  def newValuesStream(spark: SparkSession, schema: StructType): Stream =
    new Stream(toDF(spark, schema))
}

/** `state/map/CachedBatchReadsMap.java` — intra-batch read-your-writes:
  * reads during one commit bracket see that batch's own writes (the
  * reference wraps the backing map inside each batch; here the cache is
  * reset by `beginCommit`). */
final class CachedBatchReadsMap[T](delegate: MapState[T]) extends MapState[T] {
  private val batchWrites = scala.collection.mutable.HashMap[Seq[Any], T]()

  def beginCommit(txid: Option[Long]): Unit = {
    batchWrites.clear(); delegate.beginCommit(txid)
  }
  def commit(txid: Option[Long]): Unit = {
    delegate.commit(txid); batchWrites.clear()
  }
  def multiGet(keys: Seq[Seq[Any]]): Seq[Option[T]] = {
    val fromStore = delegate.multiGet(keys)
    keys.zip(fromStore).map { case (k, s) => batchWrites.get(k).orElse(s) }
  }
  def multiUpdate(keys: Seq[Seq[Any]], updaters: Seq[ValueUpdater[T]]): Seq[T] = {
    val res = delegate.multiUpdate(keys, updaters)
    keys.zip(res).foreach { case (k, v) => batchWrites(k) = v }
    res
  }
  def multiPut(keys: Seq[Seq[Any]], vals: Seq[T]): Unit = {
    delegate.multiPut(keys, vals)
    keys.zip(vals).foreach { case (k, v) => batchWrites(k) = v }
  }
  override def scanAll(): Seq[(Seq[Any], Any)] = delegate.scanAll()
}
