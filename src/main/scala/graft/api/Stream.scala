package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.types._
import graft.api.Operations._

/** Fluent tuple-stream API — the engine's analog of the reference's Trident
  * `Stream` (`storm-core/src/jvm/storm/trident/Stream.java`).
  *
  * Every operator compiles to a plain Catalyst construct (declared via the
  * DataFrame API) so that the optimizer keeps predicate pushdown, column
  * pruning, partial aggregation and whole-stage codegen. The reference's
  * hand-built planner (`GraphGrouper` fusion, `PartitionNode` exchanges,
  * `TridentTopology.java:265-426`) is deliberately NOT ported: Catalyst's
  * `EnsureRequirements`/codegen subsumes it (see SURVEY.md §4). A batch
  * stream that is exactly one partition (a table within one file split) is
  * marked `coalesce(1)` at every repartitioning point, so Catalyst sees
  * `SinglePartition` and plans no exchange for the fold nor for a sort
  * above it: the whole query runs as one Spark job ([[Stream.onePartition]]).
  *
  * Used both on static DataFrames (batch/oracle mode) and on streaming
  * DataFrames (Structured Streaming) — the plan builder is mode-agnostic,
  * which is what gives batch/stream parity by construction.
  */
class Stream(val df: DataFrame) extends Serializable {

  def fields: Fields = Fields(df.columns.toSeq)
  private def spark = df.sparkSession

  /** [[Stream.onePartition]] of `df`, probed once per Stream on first use by
    * a repartitioning operator. */
  @transient private lazy val single: Option[DataFrame] = Stream.onePartition(df)

  /** `df` marked `SinglePartition` when it is one partition, else `df`. */
  private def pinned: DataFrame = single.getOrElse(df)

  /** `Stream.projectionValidation`, Stream.java:362-373. */
  private def validate(requested: Fields): Unit = {
    val missing = requested.names.filterNot(fields.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"Trying to select non-existent fields: ${missing.mkString("[", ", ", "]")} " +
        s"from stream containing fields: $fields")
  }

  // ------------------------------------------------------------------
  // §2.3 projection / per-tuple functions / filters
  // ------------------------------------------------------------------

  /** Keep only the named fields — `Stream.project`, Stream.java:81-84.
    * Compiles to a Catalyst `Project` → column pruning reaches the scan. */
  def project(keep: Fields): Stream = {
    validate(keep)
    new Stream(df.select(keep.names.map(F.col): _*))
  }

  /** `each(inputFields, Function, newFields)` — Column tier (1:1).
    * Output fields are APPENDED to the tuple (Stream.java:136-144,
    * `OperationOutputFactory` semantics), as `withColumn`s: stays fully
    * inside whole-stage codegen. */
  def each(in: Fields, fn: ColumnFunction, out: Fields): Stream = {
    validate(in)
    val exprs = fn.exprs(in.names.map(F.col))
    require(exprs.size == out.size, s"function emitted ${exprs.size} exprs for fields $out")
    // Trident APPENDS output fields; a name collision is a build-time error
    // there — withColumns would silently overwrite the existing column
    val clash = out.names.filter(df.columns.contains)
    require(clash.isEmpty, s"each() output fields $clash already exist in ${df.columns.toSeq}")
    new Stream(df.withColumns(out.names.toSeq.zip(exprs).toMap))
  }

  /** `each` — Row tier (1:N). `fn` sees only `in` (in order) and emits rows
    * of the new fields; each emission is appended to the full input tuple.
    * Leaves codegen — prefer the Column overload or [[flatEach]] with
    * `explode` when expressible. */
  def each(in: Fields, fn: RowFunction, out: Seq[StructField]): Stream = {
    validate(in)
    val inIdx = in.names.map(df.columns.indexOf(_))
    val outSchema = StructType(df.schema.fields ++ out)
    val enc = Encoders.row(outSchema)
    val res = df.mapPartitions { it =>
      // Operation lifecycle (prepare/cleanup) bracketed per partition.
      // cleanup must run EXACTLY once: hasNext is re-invoked after
      // exhaustion by iterator chains, and an early-terminating consumer
      // (limit) abandons the iterator entirely — the task-completion
      // listener covers that path.
      fn.prepare(org.apache.spark.TaskContext.getPartitionId())
      var cleaned = false
      def cleanupOnce(): Unit = if (!cleaned) { cleaned = true; fn.cleanup() }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => cleanupOnce()))
      new Iterator[Row] {
        private val inner = it.flatMap { r =>
          fn.execute(inIdx.map(r.get)).map(em => Row.fromSeq(r.toSeq ++ em))
        }
        def hasNext: Boolean = {
          val h = inner.hasNext
          if (!h) cleanupOnce()
          h
        }
        def next(): Row = inner.next()
      }
    }(enc)
    new Stream(res)
  }

  /** `Debug` builtin (`operation/builtin/Debug.java:23-38`) — print each
    * tuple on the executor, keep all. */
  def debug(tag: String = "DEBUG"): Stream = {
    val cols = df.columns.toSeq
    new Stream(df.filter { r: Row =>
      // scalastyle:off println
      println(s"<$tag> ${cols.zip(r.toSeq).map { case (c, v) => s"$c=$v" }.mkString(", ")}")
      // scalastyle:on println
      true
    })
  }

  /** Column-tier 1:N `each`: append one field per element of an array
    * expression (codegen'd `Generate` — the fast path for Split-style
    * functions; prefer over the Row tier). */
  def flatEach(arrayExpr: Column, out: String): Stream =
    new Stream(df.withColumn(out, F.explode(arrayExpr)))

  /** Object-tier 1:N emit: `Dataset.flatMap` over whole rows into
    * `outSchema` (a MapPartitions plan, NOT Generate) — the bolt-like
    * "emit any number of tuples per input" spelling, and the one 1:N form
    * Spark's continuous trigger accepts (Generate is rejected there —
    * ContinuousSpec). Batch/micro-batch pipelines should prefer
    * [[flatEach]]: the Column tier stays inside whole-stage codegen, this
    * one round-trips rows through Scala objects. */
  def flatEachRows(outSchema: org.apache.spark.sql.types.StructType)(
      fn: Row => IterableOnce[Row]): Stream =
    new Stream(df.flatMap(fn)(org.apache.spark.sql.Encoders.row(outSchema)))

  /** `each(inputFields, Filter)` — Row-tier predicate (`operation/Filter.java`,
    * executed via `FilterExecutor`). */
  def each(in: Fields, filter: RowFilter): Stream = {
    validate(in)
    val inIdx = in.names.map(df.columns.indexOf(_))
    new Stream(df.filter(r => filter.isKeep(inIdx.map(r.get))))
  }

  /** Column-tier filter — the preferred spelling (predicate pushdown). */
  def where(pred: Column): Stream = new Stream(df.filter(pred))

  /** `builtin/FilterNull.java` — drop tuples with any null among `in`. */
  def filterNull(in: Fields): Stream = {
    validate(in)
    where(Operations.filterNull(in.names.map(F.col)))
  }

  /** `builtin/Equals.java` — keep iff all `in` fields equal. */
  def equalFields(in: Fields): Stream = {
    validate(in)
    where(Operations.equalFields(in.names.map(F.col)))
  }

  /** One-pass N-way split — the analog of core Storm's multiple named
    * output streams (`OutputFieldsDeclarer.declareStream`, used e.g. by
    * `MasterBatchCoordinator.java:46-48`'s $batch/$commit/$success
    * streams). ONE scan of the parent: each tuple is tagged with the index
    * of the FIRST predicate it matches (a bolt choosing its emit stream),
    * the tagged frame is persisted, and each returned Stream filters the
    * shared materialization — N downstream sinks never rescan the source.
    * Tuples matching no predicate are dropped (add `lit(true)` as a
    * catch-all branch to keep them). Call `unpersistSplit()` on any
    * returned branch when all sinks are done. */
  def split(predicates: Column*): Seq[Stream] = {
    require(predicates.nonEmpty, "split needs at least one predicate")
    val tag = F.coalesce(
      predicates.zipWithIndex.map { case (p, i) => F.when(p, F.lit(i)) } :+
        F.lit(-1): _*)
    // collision-proof tag column: a user column named __branch (e.g. from
    // a prior split output that was transformed and re-split) must survive
    val branchCol = Iterator.from(0).map(i => if (i == 0) "__branch" else s"__branch$i")
      .find(!df.columns.contains(_)).get
    val tagged = df.withColumn(branchCol, tag)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    predicates.indices.map(i =>
      new Stream(tagged.where(F.col(branchCol) === i).drop(branchCol)) {
        override def unpersistSplit(): Unit = { tagged.unpersist(); () }
      })
  }

  /** Release the shared materialization created by [[split]] (call on any
    * returned branch; no-op on non-split streams). */
  def unpersistSplit(): Unit = ()

  /** `Stream.name`, Stream.java:72-74 — plan label (alias). */
  def named(n: String): Stream = new Stream(df.as(n))

  /** `applyAssembly` — reusable sub-pipeline (`operation/Assembly.java`). */
  def applyAssembly(assembly: Stream => Stream): Stream = assembly(this)

  // ------------------------------------------------------------------
  // §2.4 repartitioning ("exchange") operators
  // ------------------------------------------------------------------

  /** Round-robin redistribution — `Stream.shuffle`, Stream.java:100-102. */
  def shuffle(): Stream = new Stream(df.repartition(defaultParallelism))
  def shuffle(n: Int): Stream = new Stream(df.repartition(n))

  /** Hash partition by fields — `partitionBy`, Stream.java:91-94. A
    * one-partition input already holds every key in one partition: it is
    * only marked `coalesce(1)`, with no exchange. */
  def partitionBy(keys: Fields): Stream = {
    validate(keys)
    new Stream(single.getOrElse(df.repartition(keys.names.map(F.col): _*)))
  }

  /** All tuples to one partition — `global()`, Stream.java:104-108. At scale
    * only meaningful in front of a final single-key aggregate; Catalyst's
    * final-agg stage is the idiomatic form. A one-partition input is marked
    * `coalesce(1)` instead of shuffled. */
  def global(): Stream = new Stream(single.getOrElse(df.repartition(1)))

  /** `batchGlobal()` — in batch mode the dataset IS the batch. */
  def batchGlobal(): Stream = global()

  /** Replicate to every partition — `broadcast()`, Stream.java:115-117.
    * Spark-first: mark for BroadcastExchange (consumed by a downstream join). */
  def broadcastHint(): Stream = new Stream(F.broadcast(df))

  /** `identityPartition()` — planner fence; Catalyst needs no fence. */
  def identityPartition(): Stream = this

  /** `partition(CustomStreamGrouping)` — user-defined partitioner escape
    * hatch (`Stream.java:96-98`; `backtype/storm/grouping/
    * CustomStreamGrouping.java` `chooseTasks`). Drops to the RDD layer
    * (the one place Spark has no declarative equivalent) — use only for
    * placement semantics hash/range/round-robin cannot express. */
  def partitionCustom(numParts: Int, chooseTask: Row => Int): Stream =
    partitionCustomMulti(numParts, r => Seq(chooseTask(r)))

  /** Full `chooseTasks` parity: the grouping may route one tuple to SEVERAL
    * tasks (`CustomStreamGrouping.java:30` returns `List<Integer>`), which
    * is how replication-style groupings (e.g. partial key grouping, or
    * all-but-local broadcast) are written. Each row is emitted once per
    * chosen partition. */
  def partitionCustomMulti(numParts: Int, chooseTasks: Row => Seq[Int]): Stream = {
    val schema = df.schema
    val part = new org.apache.spark.Partitioner {
      def numPartitions: Int = numParts
      def getPartition(key: Any): Int =
        ((key.asInstanceOf[Int] % numParts) + numParts) % numParts
    }
    val rdd = df.rdd
      .flatMap(r => chooseTasks(r).map(t => (t, r)))
      .partitionBy(part).values
    new Stream(spark.createDataFrame(rdd, schema))
  }

  /** `parallelismHint(n)`, Stream.java:76-79. */
  def parallelismHint(n: Int): Stream = new Stream(df.repartition(n))

  private def defaultParallelism: Int =
    spark.conf.getOption("spark.sql.shuffle.partitions").map(_.toInt).getOrElse(32)

  // ------------------------------------------------------------------
  // §2.5 aggregation
  // ------------------------------------------------------------------

  /** Keyed grouping. Every tier of [[GroupedStream]] plans its exchange by
    * key, except over a one-partition input, which is marked `coalesce(1)`
    * so the fold and any sort above it plan no exchange. */
  def groupBy(keys: Fields): GroupedStream = {
    validate(keys)
    new GroupedStream(pinned, keys)
  }

  /** Whole-stream aggregate, Column tier — `Stream.aggregate`
    * (Stream.java:233-264). Catalyst plans the same partial/final pair the
    * reference builds by hand in `ChainedAggregatorDeclarer.chainEnd`, with
    * no exchange between them over a one-partition input. Every Column must
    * carry an alias. Multiple columns = chained aggregation (`chainedAgg`,
    * one pass). */
  def aggregate(aggs: Column*): Stream = {
    Stream.validateChainedOutputs(aggs)
    new Stream(pinned.agg(aggs.head, aggs.tail: _*))
  }

  /** Whole-stream aggregate via a user CombinerAggregator (SPI tier):
    * `df.agg` over [[Operations.combinerColumn]], so Catalyst plans a
    * partial `ObjectHashAggregate` per partition, one exchange to a single
    * partition and a final merge, reading only the `in` columns. A
    * one-partition input plans both phases in one task, with no exchange.
    * Empty input gives one row holding `zero`. */
  def aggregate[T](in: Fields, agg: CombinerAggregator[T], out: StructField): Stream = {
    validate(in)
    new Stream(pinned.agg(Operations.combinerColumn(df, in, agg, out)))
  }

  /** Per-partition aggregate — `partitionAggregate` (Stream.java:148-156);
    * output REPLACES the tuple (fresh fields, `AggregateProcessor`). One
    * `mapPartitions` over the `in` columns only; no shuffle, no merge. */
  def partitionAggregate[S](in: Fields, agg: FullAggregator[S], out: Seq[StructField]): Stream = {
    validate(in)
    val res = df.select(in.names.map(F.col): _*).mapPartitions { it =>
      var s = agg.init()
      it.foreach(r => s = agg.aggregate(s, r.toSeq))
      agg.complete(s).map(Row.fromSeq)
    }(Encoders.row(StructType(out)))
    new Stream(res)
  }

  // ------------------------------------------------------------------
  // §2.7 top-K — `operation/builtin/FirstN.java`
  // ------------------------------------------------------------------

  /** Sorted FirstN (FirstN.java:85-124). Catalyst plans
    * `TakeOrderedAndProject` — exactly the reference's partial/final top-K
    * assembly (partition-local heap, then merge), shuffle-free but for n rows
    * per partition. `tieBreak` makes results deterministic. */
  def firstN(n: Int, sortField: String, reverse: Boolean = false, tieBreak: Seq[String] = Nil): Stream = {
    val primary = if (reverse) F.col(sortField).desc else F.col(sortField).asc
    val order = primary +: tieBreak.map(F.col(_).asc)
    new Stream(df.orderBy(order: _*).limit(n))
  }

  /** Unsorted FirstN (FirstN.java:55-83) — any n tuples. */
  def firstN(n: Int): Stream = new Stream(df.limit(n))

  // ------------------------------------------------------------------
  // temporal / sampling faces (beyond the reference — see functions/*)
  // ------------------------------------------------------------------

  /** Backward as-of join against another stream (attribution pattern):
    * [[graft.functions.Temporal.asofJoinBackward]]. */
  def asofJoin(right: Stream, key: String, leftTs: String, rightTs: String,
               rightVal: String, outCol: String): Stream =
    new Stream(graft.functions.Temporal.asofJoinBackward(
      df, right.df, key, leftTs, rightTs, rightVal, outCol))

  /** Gap-based sessionization: [[graft.functions.Temporal.sessionize]]. */
  def sessionize(key: String, ts: String, gapTicks: Long, tieBreak: String): Stream =
    new Stream(graft.functions.Temporal.sessionize(df, key, ts, gapTicks, tieBreak))

  /** Deterministic hash-keyed Bernoulli sample:
    * [[graft.functions.Sampling.bernoulliSample]]. */
  def sample(key: Column, ppm: Long): Stream =
    new Stream(graft.functions.Sampling.bernoulliSample(df, key, ppm))

  /** Exact-duplicate removal (keep min-id per content fingerprint):
    * [[graft.functions.Dedup.dropExactDups]]. */
  def dropExactDups(idCol: String, textCol: String): Stream =
    new Stream(graft.functions.Dedup.dropExactDups(df, idCol, textCol))

  /** Near-duplicate removal (LSH pairs → clusters → keep canonical):
    * [[graft.functions.Dedup.dropNearDups]]. */
  def dropNearDups(idCol: String, textCol: String, k: Int = 3,
                   numHashes: Int = 8, rowsPerBand: Int = 2,
                   threshold: Double = 0.7): Stream =
    new Stream(graft.functions.Dedup.dropNearDups(df, idCol, textCol, k,
      numHashes, rowsPerBand, threshold))

  /** Deterministic train/test split column:
    * [[graft.functions.Sampling.trainTestSplit]]. */
  def trainTestSplit(key: Column, testPpm: Long): Stream =
    new Stream(graft.functions.Sampling.trainTestSplit(df, key, testPpm))

  // ------------------------------------------------------------------
  // §2.6 multi-stream: merge / join / multiReduce
  // ------------------------------------------------------------------

  /** Union — `TridentTopology.merge` (TridentTopology.java:221-235) via
    * `IdentityMultiReducer`; the FIRST stream's field names win. */
  def merge(others: Stream*): Stream = {
    others.foreach { o =>
      require(o.df.columns.length == df.columns.length,
        s"merge arity mismatch: $fields vs ${o.fields}")
    }
    val renamed = others.map(o => o.df.toDF(df.columns.toIndexedSeq: _*))
    new Stream(renamed.foldLeft(df)(_ union _))
  }

  /** Per-batch equi-join — `TridentTopology.join` + `JoinerMultiReducer`
    * (TridentTopology.java:237-263, JoinerMultiReducer.java:32-158).
    *
    * Output tuple = join fields (one copy, coalesced for outer) followed by
    * the non-join fields of each side in order, renamed to `outFields`
    * (`ComboList` concatenation semantics). `joinType`: "inner" or
    * "full_outer" ("left_outer"/"right_outer" = mixed JoinType list,
    * TridentTopology.java:249-258). Catalyst picks broadcast vs shuffled
    * hash vs sort-merge; pass a pre-`broadcastHint()`ed stream to force
    * the broadcast strategy for small sides.
    */
  def join(other: Stream, leftKeys: Fields, rightKeys: Fields,
           outFields: Fields, joinType: String = "inner"): Stream = {
    validate(leftKeys)
    other.validate(rightKeys)
    require(leftKeys.size == rightKeys.size, "join key arity mismatch")
    val nKeys = leftKeys.size
    val lRest = df.columns.filterNot(leftKeys.contains).toSeq
    val rRest = other.df.columns.filterNot(rightKeys.contains).toSeq
    require(outFields.size == nKeys + lRest.size + rRest.size,
      s"outFields must name keys + both sides' remaining fields " +
        s"(${nKeys + lRest.size + rRest.size}), got ${outFields.size}")
    val keyNames = outFields.names.take(nKeys)
    val lOut = outFields.names.slice(nKeys, nKeys + lRest.size)
    val rOut = outFields.names.drop(nKeys + lRest.size)

    val l = df.select(
      leftKeys.names.zipWithIndex.map { case (k, i) => F.col(k).as(s"__lk$i") } ++
        lRest.zip(lOut).map { case (c, o) => F.col(c).as(o) }: _*)
    val r = other.df.select(
      rightKeys.names.zipWithIndex.map { case (k, i) => F.col(k).as(s"__rk$i") } ++
        rRest.zip(rOut).map { case (c, o) => F.col(c).as(o) }: _*)
    val cond = (0 until nKeys).map(i => l(s"__lk$i") === r(s"__rk$i")).reduce(_ && _)
    val joined = l.join(r, cond, joinType)
    val keyCols = (0 until nKeys).map { i =>
      F.coalesce(F.col(s"__lk$i"), F.col(s"__rk$i")).as(keyNames(i))
    }
    val rest = (lOut ++ rOut).map(F.col)
    new Stream(joined.select(keyCols ++ rest: _*))
  }

  /** Grouped multi-stream reducer — `multiReduce` with a
    * `GroupedMultiReducer` (TridentTopology.java:171-219,
    * `GroupedMultiReducerExecutor.java`). Two-stream form via
    * `Dataset.cogroup`; output = group fields ++ emitted fields. When both
    * inputs are one partition, the cogroup plans no exchange (unless Spark
    * estimates them above `spark.sql.maxSinglePartitionBytes`) and its
    * output is marked one partition too, so a sort above it plans none
    * either. */
  def multiReduce[S](other: Stream, thisKeys: Fields, otherKeys: Fields,
                     reducer: GroupedMultiReducer[S], out: Seq[StructField]): Stream = {
    validate(thisKeys)
    other.validate(otherKeys)
    val keySchema = StructType(thisKeys.names.map(n =>
      df.schema(df.columns.indexOf(n))).map(f => StructField(f.name, f.dataType)))
    val keyEnc = Encoders.row(keySchema)
    val outSchema = StructType(keySchema.fields ++ out)
    val outEnc = Encoders.row(outSchema)
    val lIdx = thisKeys.names.map(df.columns.indexOf(_))
    val rIdx = otherKeys.names.map(other.df.columns.indexOf(_))
    val grouped = pinned.groupByKey(r => Row.fromSeq(lIdx.map(r.get)))(keyEnc)
    val groupedR = other.pinned.groupByKey(r => Row.fromSeq(rIdx.map(r.get)))(keyEnc)
    val res = grouped.cogroup(groupedR) { (key, lIt, rIt) =>
      var s = reducer.init(key.toSeq)
      lIt.foreach(r => s = reducer.execute(s, 0, r.toSeq))
      rIt.foreach(r => s = reducer.execute(s, 1, r.toSeq))
      reducer.complete(s, key.toSeq).map(em => Row.fromSeq(key.toSeq ++ em))
    }(outEnc)
    // with both inputs one partition and no exchange planned between them
    // the cogroup zips one partition with one, so its output is one too.
    // Spark re-shuffles single partitions it estimates too large to keep
    val oneOut = single.isDefined && other.single.isDefined &&
      !Stream.startsJobs(res.queryExecution.executedPlan)
    new Stream(if (oneOut) res.coalesce(1) else res)
  }

  /** Non-grouped `multiReduce` (TridentTopology.java:171-219 with a plain
    * `MultiReducer`): the N input streams fold into one state per batch.
    * Batch face: tagged union folded in a single final task — the same
    * single-accumulator repartitioning the reference plans. RDD tier by
    * necessity (heterogeneous schemas); the grouped form is the scalable
    * spelling. */
  def multiReduceAll[S](other: Stream, reducer: MultiReducer[S],
                        out: Seq[StructField]): Stream = {
    val tagged = df.rdd.map(r => (0, r.toSeq))
      .union(other.df.rdd.map(r => (1, r.toSeq)))
    // repartition(1) = a real shuffle: both input scans stay parallel and
    // only the fold is single-task (coalesce(1) would serialize the scans
    // into that one task too)
    val folded = tagged.repartition(1).mapPartitions { it =>
      var s = reducer.init()
      it.foreach { case (i, t) => s = reducer.execute(s, i, t) }
      reducer.complete(s).map(Row.fromSeq)
    }
    new Stream(spark.createDataFrame(folded, StructType(out)))
  }

  // ------------------------------------------------------------------
  // §2.8 set ops (merge is union; intersect/except via Spark built-ins)
  // ------------------------------------------------------------------

  def intersect(other: Stream): Stream = new Stream(df.intersect(other.df))
  def except(other: Stream): Stream = new Stream(df.except(other.df))

  // ------------------------------------------------------------------
  // §2.9 state query — stream ⋈ materialized state
  // ------------------------------------------------------------------

  /** `stateQuery(state, inFields, MapGet, newFields)` — batched key lookup
    * (`StateQueryProcessor.java:81-95` does ONE batchRetrieve per batch; the
    * Spark-first form is a stream-static equi-join, broadcast when small).
    * Missing keys yield nulls, exactly like `MapGet` (builtin/MapGet.java). */
  def stateQuery(state: StaticState, in: Fields, newFields: Fields): Stream = {
    validate(in)
    require(in.size == state.keys.size, "stateQuery key arity mismatch")
    require(newFields.size == state.values.size,
      s"state ${state.values} arity != newFields $newFields")
    val renamedKeys = state.keys.names.zipWithIndex.map { case (k, i) => s"__sk$i" }
    val sdf0 = state.df.select(
      state.keys.names.zipWithIndex.map { case (k, i) => F.col(k).as(s"__sk$i") } ++
        state.values.names.zip(newFields.names).map { case (v, n) => F.col(v).as(n) }: _*)
    val sdf = if (state.broadcastable) F.broadcast(sdf0) else sdf0
    val cond = in.names.zip(renamedKeys).map { case (l, r) => df(l) === sdf(r) }
      .reduce(_ && _)
    val joined = df.join(sdf, cond, "left_outer")
      .drop(renamedKeys: _*)
    new Stream(joined)
  }

  /** `SnapshotGet` (builtin/SnapshotGet.java) — append a global snapshot
    * value to every tuple: broadcast cross join with the 1-row state. */
  def snapshotQuery(state: StaticState, newFields: Fields): Stream = {
    val sdf = state.df.select(
      state.values.names.zip(newFields.names).map { case (v, n) => F.col(v).as(n) }: _*)
    new Stream(df.crossJoin(F.broadcast(sdf)))
  }

  def toDF: DataFrame = df
}

object Stream {
  /** The one-partition probe behind every repartitioning operator: when
    * batch frame `df` is exactly one partition, `df.coalesce(1)`, which
    * Catalyst sees as `SinglePartition`, so `EnsureRequirements` plans no
    * exchange for a fold or a sort above it. Decided without running a
    * Spark job: the physical plan holds no exchange and no subquery, so
    * building its RDD starts none, and that RDD has one partition. A
    * streaming frame is never probed. An input of more than one partition
    * is never coalesced: that would pull a parallel scan into one task.
    *
    * The trade-off: a row-multiplying step (say a `flatEach` explode)
    * between a one-partition input and its grouping now folds in that one
    * task, where an exchange would have let AQE split the post-shuffle
    * side. */
  private[api] def onePartition(df: DataFrame): Option[DataFrame] =
    if (df.isStreaming) None
    else {
      val qe = df.queryExecution
      if (!startsJobs(qe.executedPlan) && qe.toRdd.getNumPartitions == 1) Some(df.coalesce(1))
      else None
    }

  /** Whether building `plan`'s RDD may run a job: it holds an exchange or a
    * subquery, here or in the plan of a cached relation it reads. */
  private[api] def startsJobs(plan: SparkPlan): Boolean = plan.exists {
    case _: Exchange | _: ReusedExchangeExec => true
    case a: AdaptiveSparkPlanExec => startsJobs(a.initialPlan)
    case m: InMemoryTableScanExec => startsJobs(m.relation.cachedPlan)
    case p => p.subqueries.nonEmpty
  }

  /** Chained-aggregation output disjointness — the build-time check of
    * `ChainedAggregatorDeclarer.chainEnd` (ChainedAggregatorDeclarer
    * .java:91-93): "Output fields for chained aggregators must be
    * distinct". */
  private[api] def validateChainedOutputs(aggs: Seq[Column]): Unit = {
    val names = aggs.map(_.toString.replaceAll("(?i).* AS ", ""))
    val dups = names.diff(names.distinct)
    if (dups.nonEmpty) throw new IllegalArgumentException(
      s"Output fields for chained aggregators must be distinct: got duplicates ${dups.distinct.mkString(", ")}")
  }
}

/** `MultiReducer` SPI — `operation/MultiReducer.java:31` (non-grouped). */
trait MultiReducer[S] extends Serializable {
  def init(): S
  def execute(state: S, streamIndex: Int, tuple: Seq[Any]): S
  def complete(state: S): Iterator[Seq[Any]]
}

/** `GroupedMultiReducer` SPI — `operation/GroupedMultiReducer.java:31`. */
trait GroupedMultiReducer[S] extends Serializable {
  def init(group: Seq[Any]): S
  def execute(state: S, streamIndex: Int, tuple: Seq[Any]): S
  def complete(state: S, group: Seq[Any]): Iterator[Seq[Any]]
}

/** Keyed grouping handle — `fluent/GroupedStream.java:38-121`. Built by
  * [[Stream.groupBy]]: over a one-partition input `df` is already marked
  * `SinglePartition`, and every tier below plans its fold with no exchange. */
class GroupedStream(df: DataFrame, val keys: Fields) extends Serializable {

  /** Column-tier per-key aggregate — `GroupedStream.aggregate`
    * (GroupedStream.java:55-85). Multiple columns = `chainedAgg` single-pass
    * (`ChainedAggregatorImpl` ≡ one HashAggregate with N agg exprs). */
  def aggregate(aggs: Column*): Stream = {
    Stream.validateChainedOutputs(aggs)
    new Stream(df.groupBy(keys.names.map(F.col): _*).agg(aggs.head, aggs.tail: _*))
  }

  /** SPI tier: CombinerAggregator per key — `groupBy(keys).agg` over
    * [[Operations.combinerColumn]]: map-side partial combines, a shuffle of
    * one buffer per key and partition, then a final merge, over a scan of
    * the keys and `in` columns only. A one-partition input runs both phases
    * in one task with no shuffle. */
  def aggregate[T](in: Fields, agg: Operations.CombinerAggregator[T],
                   out: StructField): Stream =
    new Stream(df.groupBy(keys.names.map(F.col): _*)
      .agg(Operations.combinerColumn(df, in, agg, out)))

  /** SPI tier: ReducerAggregator per key (fold; `MapReducerAggStateUpdater`
    * shape). No combine step, so no partial phase: see [[foldGroups]]. */
  def aggregate[T](in: Fields, agg: Operations.ReducerAggregator[T],
                   out: StructField): Stream =
    foldGroups(in, Seq(out)) { it =>
      var acc = agg.init()
      it.foreach(t => acc = agg.reduce(acc, t))
      Iterator(Seq(acc))
    }

  /** SPI tier: full Aggregator per key — N→M (`GroupedAggregator.java`).
    * N output rows cannot merge, so no partial phase: see [[foldGroups]]. */
  def aggregate[S](in: Fields, agg: Operations.FullAggregator[S],
                   out: Seq[StructField]): Stream =
    foldGroups(in, out) { it =>
      var s = agg.init()
      it.foreach(t => s = agg.aggregate(s, t))
      agg.complete(s)
    }

  /** Per-group top-N (FirstN applied per key) — planned through the native
    * [[graft.plans.TopK]] operator: per-partition bounded heaps partial-
    * reduce BEFORE the exchange, so the shuffle carries at most n rows per
    * key per partition instead of the full stream the window `row_number`
    * form would sort and ship. A one-partition input plans no exchange. */
  def firstN(n: Int, sortField: String, reverse: Boolean = false,
             tieBreak: Seq[String] = Nil): Stream =
    new Stream(graft.plans.TopK.topKPerKey(df, keys.names, sortField,
      desc = reverse, tieBreak = tieBreak, k = n))

  /** The window `row_number` spelling of [[firstN]], kept as the reference
    * formulation (and for odd cases like rank-with-gaps variants). */
  def firstNWindowed(n: Int, sortField: String, reverse: Boolean = false,
                     tieBreak: Seq[String] = Nil): Stream = {
    import org.apache.spark.sql.expressions.Window
    val primary = if (reverse) F.col(sortField).desc else F.col(sortField).asc
    val w = Window.partitionBy(keys.names.map(F.col): _*)
      .orderBy(primary +: tieBreak.map(F.col(_).asc): _*)
    val rn = Iterator.from(0).map(i => if (i == 0) "__rn" else s"__rn$i")
      .find(!df.columns.contains(_)).get // collision-proof helper column
    new Stream(df.withColumn(rn, F.row_number().over(w))
      .filter(F.col(rn) <= n).drop(rn))
  }

  def toStream: Stream = new Stream(df)

  /** `groupByKey` + `flatMapGroups` over the keys and `in` columns only:
    * every row of a key-group is shuffled (a one-partition input is not) and
    * `fold` sees the group's `in` values; each emitted tuple is appended to
    * the key. */
  private def foldGroups(in: Fields, out: Seq[StructField])
                        (fold: Iterator[Seq[Any]] => Iterator[Seq[Any]]): Stream = {
    val cols = (keys.names ++ in.names).distinct
    val pruned = df.select(cols.map(F.col): _*)
    val (ki, ii) = (keys.names.map(cols.indexOf(_)), in.names.map(cols.indexOf(_)))
    val keySchema = StructType(ki.map(i => StructField(cols(i), pruned.schema(i).dataType)))
    val res = pruned.groupByKey(r => Row.fromSeq(ki.map(r.get)))(Encoders.row(keySchema))
      .flatMapGroups { (key: Row, it: Iterator[Row]) =>
        fold(it.map(r => ii.map(r.get))).map(em => Row.fromSeq(key.toSeq ++ em))
      }(Encoders.row(StructType(keySchema.fields ++ out)))
    new Stream(res)
  }
}

/** Materialized keyed state exposed for `stateQuery` — the batch face of
  * `TridentState` / `newStaticState` (TridentTopology.java:159-169).
  * `broadcastable` → plan the lookup as a broadcast join (MapGet against a
  * small dimension); large state joins shuffle on the key. */
case class StaticState(df: DataFrame, keys: Fields, values: Fields,
                       broadcastable: Boolean = true) {
  /** `TupleCollectionGet` (builtin/TupleCollectionGet.java) — full scan. */
  def scan: Stream = new Stream(df)
}
