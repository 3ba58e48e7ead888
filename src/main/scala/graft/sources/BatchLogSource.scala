package graft.sources

import java.util
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DataSourceV2 micro-batch source implementing the reference's
  * TRANSACTIONAL SPOUT contract (`storm/trident/spout/ITridentSpout.java:
  * 28-94`): batches are identified by strictly increasing ids, and the
  * emitter "must always emit the same batch of tuples … for the same
  * transaction id". Here the batch id IS the offset: `planInputPartitions
  * (start, end)` returns exactly the logged batches in that range, so a
  * recovery replay of an offset range is bit-identical — Structured
  * Streaming's offset log plays the role of the coordinator metadata the
  * reference keeps in ZooKeeper (`BatchCoordinator.initializeTransaction`).
  *
  * A range of n logged batches is read as `min(n, P)` input partitions,
  * P the session's default parallelism when the query starts — the
  * spout's `parallelismHint` analog (`Stream.java:76-79`), not one task per
  * batch the producer happened to log. Each partition is one contiguous
  * run of batches, so reading the partitions in order yields the range's
  * rows in log order whatever P is: a restart with another core count
  * replays the same tuples.
  *
  * The in-memory batch log is the `IBatchSpout`/`FeederBatchSpout` face for
  * tests; a durable implementation stores batches in files keyed the same
  * way. Usage:
  * {{{
  *   BatchLog.create("mylog")
  *   BatchLog.append("mylog", Seq("a", "b"))
  *   spark.readStream.format("graft.sources.BatchLogProvider")
  *     .option("log", "mylog").load()   // schema: value STRING
  * }}}
  * Option `maxBatchesPerTrigger` (a positive integer) caps the logged
  * batches one trigger admits.
  */
object BatchLog {
  private val logs = TrieMap[String, ArrayBuffer[Vector[String]]]()
  def create(id: String): Unit = { logs.putIfAbsent(id, ArrayBuffer.empty); () }
  def append(id: String, batch: Seq[String]): Unit =
    logs(id).synchronized { logs(id) += batch.toVector; () }
  def numBatches(id: String): Int = logs(id).synchronized { logs(id).size }
  /** The rows of logged batches [from, until), in log order. */
  def rows(id: String, from: Int, until: Int): Vector[String] = {
    val log = logs(id)
    log.synchronized { log.view.slice(from, until).flatten.toVector }
  }
  def drop(id: String): Unit = { logs.remove(id); () }

  val Schema: StructType = StructType(Seq(StructField("value", StringType, nullable = false)))
}

class BatchLogProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = BatchLog.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new BatchLogTable(properties.get("log"))
}

private[sources] class BatchLogTable(logId: String) extends Table with SupportsRead {
  require(logId != null, "option 'log' is required")
  override def name(): String = s"batchlog($logId)"
  override def schema(): StructType = BatchLog.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val maxPending = Option(options.get("maxBatchesPerTrigger")).map { v =>
      v.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"option 'maxBatchesPerTrigger' must be a positive integer, got '$v'"))
    }
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = BatchLog.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new BatchLogStream(logId, maxPending,
            SparkSession.active.sparkContext.defaultParallelism)
      }
    }
  }
}

private[sources] case class BatchLogOffset(batchId: Long) extends Offset {
  override def json(): String = batchId.toString
}

/** @param parallelism the most input partitions one offset range plans. */
private[sources] class BatchLogStream(logId: String, maxBatchesPerTrigger: Option[Int] = None,
                                      parallelism: Int = 1)
  extends MicroBatchStream with SupportsAdmissionControl {
  override def initialOffset(): Offset = BatchLogOffset(0L)
  override def latestOffset(): Offset = BatchLogOffset(BatchLog.numBatches(logId).toLong)
  override def deserializeOffset(json: String): Offset = BatchLogOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Backpressure — the `topology.max.spout.pending` analog (SURVEY.md
    * §2.10): admit at most `maxBatchesPerTrigger` logged batches per
    * trigger so a backlog drains in bounded micro-batches instead of one
    * giant catch-up batch. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startId = start.asInstanceOf[BatchLogOffset].batchId
    val available = BatchLog.numBatches(logId).toLong
    maxBatchesPerTrigger match {
      case Some(m) => BatchLogOffset(math.min(available, startId + m))
      case None => BatchLogOffset(available)
    }
  }
  override def reportLatestOffset(): Offset =
    BatchLogOffset(BatchLog.numBatches(logId).toLong)

  /** The replayability contract: partitions for [start, end) carry the
    * logged batch contents themselves — the same range always yields the
    * same tuples, even while the log keeps growing. The n batches split
    * into `min(n, parallelism)` contiguous runs whose sizes differ by at
    * most one; an empty range plans no partition. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BatchLogOffset].batchId.toInt
    val n = end.asInstanceOf[BatchLogOffset].batchId.toInt - s
    val k = math.min(n, parallelism)
    Array.tabulate[InputPartition](k) { j =>
      BatchLogPartition(BatchLog.rows(logId, s + j * n / k, s + (j + 1) * n / k))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = BatchLogReaderFactory
}

private[sources] case class BatchLogPartition(rows: Vector[String]) extends InputPartition

private[sources] object BatchLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[BatchLogPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.size }
      override def get(): InternalRow =
        InternalRow(UTF8String.fromString(rows(i)))
      override def close(): Unit = ()
    }
  }
}
