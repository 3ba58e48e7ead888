package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoders, RowEncoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** User-operation SPI — the Spark-first re-expression of the reference's
  * per-tuple operation interfaces (the `storm/trident/operation` package).
  *
  * Two tiers, in preference order:
  *
  *  1. '''Column tier''' — operations expressed as Catalyst `Column`
  *     expressions. These stay inside whole-stage codegen and get predicate
  *     pushdown / column pruning for free. All builtin operations live here.
  *  2. '''Row tier''' — arbitrary JVM logic over `Row`s (`flatMap` /
  *     `mapPartitions` under the hood). Escape hatch matching the raw power
  *     of the reference's `Function.execute(tuple, collector)`
  *     (`operation/Function.java`), at the cost of leaving codegen.
  */
object Operations {

  /** Reference `operation/Function.java`: `execute(tuple, collector)` may emit
    * 0..N output tuples; emitted fields are APPENDED to the input tuple
    * (`OperationOutputFactory`, `trident/tuple/TridentTupleView.java:109-155`).
    * `input` carries only the declared input fields, in declaration order.
    *
    * `prepare`/`cleanup` are the `operation/Operation.java` lifecycle hooks,
    * invoked once per partition (the task-slice, like the reference's
    * per-executor instance) around the tuple loop — codec/connection setup
    * goes there. `partitionIndex` mirrors `TridentOperationContext`'s
    * partition info.
    */
  trait RowFunction extends Serializable {
    def prepare(partitionIndex: Int): Unit = ()
    def execute(input: Seq[Any]): Iterator[Seq[Any]]
    def cleanup(): Unit = ()
  }

  /** Codegen-friendly 1:1 function tier: output fields as Column exprs over
    * the declared input fields. */
  trait ColumnFunction extends Serializable {
    def exprs(in: Seq[Column]): Seq[Column]
  }

  /** Reference `operation/Filter.java`: `isKeep(tuple)`. */
  trait RowFilter extends Serializable {
    def isKeep(input: Seq[Any]): Boolean
  }

  // ---- Builtin filters (reference storm/trident/operation/builtin/) ----
  // All expressed at the Column tier: they compile into the scan/filter
  // stage instead of a black-box predicate.

  /** `Equals.java:24-33` — keep iff all input fields are equal. */
  def equalFields(cols: Seq[Column]): Column =
    cols.sliding(2).map { case Seq(a, b) => a === b }
      .reduceOption(_ && _).getOrElse(lit(true))

  /** `FilterNull.java:23-29` — drop the tuple if ANY input field is null. */
  def filterNull(cols: Seq[Column]): Column =
    cols.map(_.isNotNull).reduceOption(_ && _).getOrElse(lit(true))

  /** `Negate.java:25-46` — logical NOT combinator. */
  def negate(pred: Column): Column = !pred

  /** `impl/TrueFilter.java` — keep-all identity. */
  def trueFilter: Column = lit(true)

  // ---- Aggregator SPI (reference storm/trident/operation/) ----

  /** `CombinerAggregator.java:24-29` — associative with `zero`, so it can
    * run as a two-phase plan: partial combines, then one merge
    * (`ChainedAggregatorDeclarer.java:99-112`). Both `Stream.aggregate` and
    * `GroupedStream.aggregate` lower it through [[combinerColumn]] to a
    * Catalyst aggregate function: a partial/final `ObjectHashAggregate`
    * whose scan reads only the group keys and the `in` fields. `init` sees
    * the `in` values in declaration order, nulls included. The accumulator
    * is stored as `out.dataType` between the phases, so `T` must be a value
    * of that type (an array accumulator comes back as an immutable `Seq`). */
  trait CombinerAggregator[T] extends Serializable {
    def init(tuple: Seq[Any]): T
    def combine(a: T, b: T): T
    def zero: T
  }

  /** The one adapter from the Combiner SPI to Catalyst: `agg` over the `in`
    * columns of `df` as a typed `Aggregator`, named `out.name`. Its input is
    * a `Row` of the `in` fields; its buffer and output are encoded as
    * `out.dataType`. */
  private[api] def combinerColumn[T](df: DataFrame, in: Fields, agg: CombinerAggregator[T],
                                     out: StructField): Column = {
    // a one-field row encoder holds that field's own encoder
    val AgnosticEncoders.RowEncoder(Seq(field)) = RowEncoder.encoderFor(StructType(Seq(out)))
    val enc = field.enc.asInstanceOf[Encoder[T]]
    val inSchema = StructType(in.names.map(df.schema(_)))
    udaf(new CombinerUdaf(agg, enc), Encoders.row(inSchema))(in.names.map(col): _*).as(out.name)
  }

  private final class CombinerUdaf[T](agg: CombinerAggregator[T], enc: Encoder[T])
      extends Aggregator[Row, T, T] {
    def zero: T = agg.zero
    def reduce(acc: T, in: Row): T = agg.combine(acc, agg.init(in.toSeq))
    // `b` is a partial decoded from the shuffle or a spill, which holds
    // arrays as mutable.ArraySeq; `a` is always this task's own buffer
    def merge(a: T, b: T): T = agg.combine(a, immutableArrays(b).asInstanceOf[T])
    def finish(acc: T): T = acc
    def bufferEncoder: Encoder[T] = enc
    def outputEncoder: Encoder[T] = enc
  }

  private def immutableArrays(v: Any): Any = v match {
    case a: scala.collection.mutable.ArraySeq[_] => a.iterator.map(immutableArrays).toVector
    case x => x
  }

  /** `ReducerAggregator.java:22-26` — a fold with no combine step, so it
    * has no partial phase. The reference routes these through `global()` so
    * one task folds everything (`Stream.java:315-318`); the grouped adapter
    * prunes the input to the keys and `in` fields, shuffles it by key and
    * folds each key-group whole inside `flatMapGroups`. */
  trait ReducerAggregator[T] extends Serializable {
    def init(): T
    def reduce(acc: T, tuple: Seq[Any]): T
  }

  /** `Aggregator.java:21-26` — arbitrary N→M aggregation: accumulate state
    * over a batch/group, then emit any number of output tuples. (The
    * reference additionally allows emission DURING accumulation; that only
    * matters for infinite groups and is out of per-batch scope.) N output
    * rows cannot be merged, so there is no partial phase: the grouped form
    * folds each key-group whole after a shuffle of the keys and `in` fields,
    * and `partitionAggregate` folds each partition of the `in` fields. */
  trait FullAggregator[S] extends Serializable {
    def init(): S
    def aggregate(state: S, tuple: Seq[Any]): S
    def complete(state: S): Iterator[Seq[Any]]
  }

  /** `builtin/Count.java:24-39`. */
  object CountAgg extends CombinerAggregator[Long] {
    def init(t: Seq[Any]): Long = 1L
    def combine(a: Long, b: Long): Long = a + b
    def zero: Long = 0L
  }

  /** `builtin/Sum.java:25-40` (Number-generic in the reference; we fold to
    * Double and Long variants — Spark schemas are typed). */
  final class SumDoubleAgg(idx: Int = 0) extends CombinerAggregator[Double] {
    def init(t: Seq[Any]): Double = t(idx).asInstanceOf[Number].doubleValue()
    def combine(a: Double, b: Double): Double = a + b
    def zero: Double = 0.0
  }
  final class SumLongAgg(idx: Int = 0) extends CombinerAggregator[Long] {
    def init(t: Seq[Any]): Long = t(idx).asInstanceOf[Number].longValue()
    def combine(a: Long, b: Long): Long = a + b
    def zero: Long = 0L
  }

  /** `testing/CountAsAggregator.java:26-46` — count via the full-Aggregator
    * tier (exercises init/aggregate/complete rather than combine). */
  object CountAsAggregator extends FullAggregator[Long] {
    def init(): Long = 0L
    def aggregate(s: Long, t: Seq[Any]): Long = s + 1
    def complete(s: Long): Iterator[Seq[Any]] = Iterator(Seq(s))
  }
}
