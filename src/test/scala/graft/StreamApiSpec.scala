package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.api._
import graft.api.Operations._

/** API-surface tests over the reference's own golden fixtures
  * (FIXTURES.md §A1/§A2): word-count pipeline, merge, validation errors,
  * repartition ops. */
class StreamApiSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  def sentences = new Stream(
    Seq("hello the man said", "the", "the man on the moon", "where are you")
      .toDF("sentence"))

  test("word count — integration_test.clj:55-86 golden") {
    val counts = sentences
      .flatEach(F.split(F.col("sentence"), " "), "word")
      .groupBy(Fields("word"))
      .aggregate(F.count(F.lit(1)).as("cnt"))
      .toDF.as[(String, Long)].collect().toMap
    assert(counts("the") == 4L)
    assert(counts("man") == 2L)
    assert(counts("moon") == 1L)
  }

  test("DRPC-style query: split args → MapGet → FilterNull → Sum == 8") {
    val wc = sentences
      .flatEach(F.split(F.col("sentence"), " "), "word")
      .groupBy(Fields("word"))
      .aggregate(F.count(F.lit(1)).as("cnt")).toDF
    val state = StaticState(wc, Fields("word"), Fields("cnt"))
    val args = new Stream(Seq("man", "where", "you", "the").toDF("word"))
    val sum = args.stateQuery(state, Fields("word"), Fields("cnt"))
      .filterNull(Fields("cnt"))
      .aggregate(F.sum("cnt").as("total"))
      .toDF.as[Long].head()
    assert(sum == 8L) // golden: "man where you the" → [[8]]
  }

  test("each appends fields (Row tier) and project validates") {
    val s = sentences.each(Fields("sentence"), new RowFunction {
      def execute(in: Seq[Any]): Iterator[Seq[Any]] =
        in.head.toString.split(" ").iterator.map(w => Seq(w))
    }, Seq(StructField("word", StringType)))
    assert(s.fields.names == Seq("sentence", "word")) // append semantics
    val err = intercept[IllegalArgumentException](s.project(Fields("nope")))
    assert(err.getMessage.contains("non-existent fields"))
  }

  test("merge keeps first stream's field names; multiset union") {
    val a = new Stream(Seq(("x", 1)).toDF("k", "v"))
    val b = new Stream(Seq(("y", 2)).toDF("kk", "vv"))
    val m = a.merge(b)
    assert(m.fields.names == Seq("k", "v"))
    assert(m.toDF.count() == 2)
    intercept[IllegalArgumentException](a.merge(new Stream(Seq(1).toDF("only"))))
  }

  test("build-time arity and key validation errors") {
    val s = new Stream(Seq((1, "a")).toDF("id", "v"))
    val other = new Stream(Seq((1, "x")).toDF("rid", "rv"))
    // join key arity mismatch
    intercept[IllegalArgumentException](
      s.join(other, Fields("id", "v"), Fields("rid"), Fields("k", "a", "b")))
    // outFields arity mismatch
    intercept[IllegalArgumentException](
      s.join(other, Fields("id"), Fields("rid"), Fields("k")))
    // stateQuery arity mismatch
    val state = StaticState(Seq((1, "x")).toDF("k", "val"), Fields("k"), Fields("val"))
    intercept[IllegalArgumentException](
      s.stateQuery(state, Fields("id", "v"), Fields("out")))
    // unknown fields named in ops
    intercept[IllegalArgumentException](s.partitionBy(Fields("zz")))
    intercept[IllegalArgumentException](s.groupBy(Fields("zz")))
  }

  test("chained aggregators reject duplicate output fields (build-time)") {
    val s = new Stream(Seq((1, 2.0)).toDF("k", "v"))
    val e = intercept[IllegalArgumentException] {
      s.groupBy(Fields("k")).aggregate(F.sum("v").as("x"), F.max("v").as("x"))
    }
    assert(e.getMessage.contains("must be distinct"))
  }

  test("fields grouping: same key always lands in the same partition; shuffle spreads") {
    // grouping_test.clj:25-57 distribution properties
    val words = new Stream((1 to 2000).map(i => s"w${i % 20}").toDF("word"))
    val parts = words.partitionBy(Fields("word")).toDF
      .rdd.mapPartitionsWithIndex { (pi, it) => it.map(r => (r.getString(0), pi)) }
      .collect()
    // deterministic placement: one partition per key
    assert(parts.groupBy(_._1).values.forall(_.map(_._2).toSet.size == 1))
    val shuffled = words.shuffle(8).toDF.rdd
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(shuffled.count(_ > 0) >= 6) // round-robin: most partitions populated
  }

  test("repartition operators preserve content and set partitioning") {
    val s = new Stream((1 to 100).toDF("n"))
    assert(s.shuffle(8).toDF.rdd.getNumPartitions == 8)
    assert(s.global().toDF.rdd.getNumPartitions == 1)
    assert(s.partitionBy(Fields("n")).toDF.count() == 100)
    assert(s.identityPartition() eq s)
    assert(s.parallelismHint(3).toDF.rdd.getNumPartitions == 3)
  }

  test("per-batch join inner/outer with ComboList-style output naming") {
    val l = new Stream(Seq((1, "a"), (2, "b")).toDF("id", "lv"))
    val r = new Stream(Seq((1, "x"), (3, "z")).toDF("rid", "rv"))
    val inner = l.join(r, Fields("id"), Fields("rid"), Fields("k", "lv", "rv"))
      .toDF.as[(Int, String, String)].collect().toSet
    assert(inner == Set((1, "a", "x")))
    val outer = l.join(r, Fields("id"), Fields("rid"), Fields("k", "lv", "rv"), "full_outer")
      .toDF.collect().map(_.toSeq).toSet
    assert(outer == Set(Seq(1, "a", "x"), Seq(2, "b", null), Seq(3, null, "z")))
  }

  test("chained aggregate computes multiple aggs in one pass") {
    val s = new Stream(Seq((1, 10.0), (1, 20.0), (2, 5.0)).toDF("k", "v"))
    val rows = s.groupBy(Fields("k"))
      .aggregate(F.count(F.lit(1)).as("cnt"), F.sum("v").as("sv"), F.max("v").as("mx"))
      .toDF.orderBy("k").as[(Int, Long, Double, Double)].collect()
    assert(rows.toSeq == Seq((1, 2L, 30.0, 20.0), (2, 1L, 5.0, 5.0)))
  }

  test("SPI aggregators: combiner, reducer, full") {
    val s = new Stream(Seq(("a", 1.0), ("a", 3.0), ("b", 2.0)).toDF("k", "v"))
    val maxes = s.groupBy(Fields("k"))
      .aggregate(Fields("v"), SparkEntry.MaxDoubleAgg, StructField("mx", DoubleType))
      .toDF.orderBy("k").as[(String, Double)].collect()
    assert(maxes.toSeq == Seq(("a", 3.0), ("b", 2.0)))
    val counts = s.groupBy(Fields("k"))
      .aggregate(Fields("v"), SparkEntry.CountReducer, StructField("cnt", LongType))
      .toDF.orderBy("k").as[(String, Long)].collect()
    assert(counts.toSeq == Seq(("a", 2L), ("b", 1L)))
    val full = s.groupBy(Fields("k"))
      .aggregate(Fields("v"), CountAsAggregator, Seq(StructField("cnt", LongType)))
      .toDF.orderBy("k").as[(String, Long)].collect()
    assert(full.toSeq == Seq(("a", 2L), ("b", 1L)))
    // whole-stream combiner (partial per partition + final merge)
    val total = s.aggregate(Fields("v"), new SumDoubleAgg(0), StructField("s", DoubleType))
      .toDF.as[Double].head()
    assert(total == 6.0)

    // empty input: one `zero` row for the whole stream, no rows when grouped
    val empty = new Stream(s.toDF.where(F.lit(false)))
    assert(empty.aggregate(Fields("v"), CountAgg, StructField("cnt", LongType))
      .toDF.as[Long].collect().toSeq == Seq(0L))
    assert(empty.groupBy(Fields("k"))
      .aggregate(Fields("v"), CountAgg, StructField("cnt", LongType)).toDF.count() == 0L)

    // a null `in` value reaches init as null
    val nulls = new CombinerAggregator[Long] {
      def init(t: Seq[Any]): Long = if (t.head == null) 1L else 0L
      def combine(a: Long, b: Long): Long = a + b
      def zero: Long = 0L
    }
    val withNull = new Stream(Seq(("a", Some(1.0)), ("a", None), ("b", None))
      .toDF("k", "v").repartition(2))
    assert(withNull.aggregate(Fields("v"), nulls, StructField("n", LongType))
      .toDF.as[Long].head() == 2L)
    assert(withNull.groupBy(Fields("k")).aggregate(Fields("v"), nulls, StructField("n", LongType))
      .toDF.as[(String, Long)].collect().toMap == Map("a" -> 1L, "b" -> 1L))

    // a non-primitive accumulator round-trips through the partial buffers;
    // 300 groups in each of 4 partitions pass ObjectHashAggregate's
    // 128-key fallback, so the sort-based path merges decoded buffers too
    val collect = new CombinerAggregator[Seq[Long]] {
      def init(t: Seq[Any]): Seq[Long] = Seq(t.head.asInstanceOf[Long])
      def combine(a: Seq[Long], b: Seq[Long]): Seq[Long] = (a ++ b).sorted
      def zero: Seq[Long] = Seq.empty
    }
    val rows = (0L until 2400L).map(i => (i % 300, i))
    val many = new Stream(rows.toDF("k", "v").repartition(4))
    val arrOut = StructField("vs", ArrayType(LongType, containsNull = false))
    val grouped = many.groupBy(Fields("k")).aggregate(Fields("v"), collect, arrOut)
      .toDF.as[(Long, Seq[Long])].collect().toMap
    val folded = rows.groupBy(_._1).map { case (k, kvs) =>
      k -> kvs.map(kv => collect.init(Seq(kv._2))).foldLeft(collect.zero)(collect.combine)
    }
    assert(grouped == folded)
    assert(many.aggregate(Fields("v"), collect, arrOut).toDF.as[Seq[Long]].head() ==
      rows.map(_._2).sorted)
  }

  test("FirstN assembly (partial/final heaps) equals orderBy.limit") {
    val rows = (1 to 500).map(i => ((i * 37) % 501, (i * 7919 % 10007).toDouble))
    val s = new Stream(rows.toDF("id", "score").repartition(8))
    val viaAssembly = s.applyAssembly(Assemblies.firstN(10, "score", reverse = true))
      .toDF.as[(Int, Double)].collect().toSet
    val viaLimit = s.firstN(10, "score", reverse = true, tieBreak = Seq("id"))
      .toDF.as[(Int, Double)].collect().toSet
    assert(viaAssembly == viaLimit)
    // ascending variant
    val asc = s.applyAssembly(Assemblies.firstN(5, "score"))
      .toDF.as[(Int, Double)].collect().map(_._2).sorted.toSeq
    assert(asc == rows.map(_._2).sorted.take(5).toSeq)
  }

  test("firstN sorted/unsorted and grouped firstN") {
    val s = new Stream(Seq((1, 5.0), (2, 9.0), (3, 7.0), (4, 9.0)).toDF("id", "score"))
    val top2 = s.firstN(2, "score", reverse = true, tieBreak = Seq("id"))
      .toDF.as[(Int, Double)].collect().toSeq
    assert(top2 == Seq((2, 9.0), (4, 9.0)))
    assert(s.firstN(3).toDF.count() == 3)
  }

  test("intersect/except distinct semantics") {
    val a = new Stream(Seq(1, 1, 2, 3).toDF("n"))
    val b = new Stream(Seq(2, 4).toDF("n"))
    assert(a.intersect(b).toDF.as[Int].collect().toSet == Set(2))
    assert(a.except(b).toDF.as[Int].collect().toSet == Set(1, 3))
  }

  test("split: one scan feeds three branches, first matching predicate wins") {
    // write the source to parquet so "one scan" is observable in the plans
    TempDirs.withTempDir("split-src") { path =>
      val dir = path.toString
      (1 to 10).toDF("n").write.mode("overwrite").parquet(dir)
      val src = new Stream(spark.read.parquet(dir))
      val branches = src.split($"n" <= 3, $"n" % 2 === 0, F.lit(true))
      val Seq(small, even, rest) = branches
      // 3 sinks drain the 3 branches
      val sunk = branches.map(_.toDF.as[Int].collect().toSet)
      assert(sunk(0) == Set(1, 2, 3))
      assert(sunk(1) == Set(4, 6, 8, 10))       // 2 matched branch 0 first
      assert(sunk(2) == Set(5, 7, 9))
      // single scan: every branch reads the shared cached materialization,
      // not the parquet source
      branches.foreach { b =>
        val p = b.toDF.queryExecution.executedPlan.toString
        assert(p.contains("InMemoryTableScan"), s"branch rescans the source:\n$p")
      }
      small.unpersistSplit()
      assert(even.toDF.count() == 4 && rest.toDF.count() == 3) // still correct uncached
    }
  }

  test("multiReduce cogroups two streams per key") {
    val l = new Stream(Seq(("u1", 1), ("u1", 2), ("u2", 3)).toDF("u", "x"))
    val r = new Stream(Seq(("u1", 9)).toDF("u", "y"))
    val out = l.multiReduce(r, Fields("u"), Fields("u"), SparkEntry.ClickPurchaseReducer,
        Seq(StructField("n_clicks", LongType), StructField("n_purchases", LongType)))
      .toDF.orderBy("u").as[(String, Long, Long)].collect()
    assert(out.toSeq == Seq(("u1", 2L, 1L), ("u2", 1L, 0L)))
  }

  test("a streaming DataFrame passes through groupBy unprobed") {
    // probing plans the frame physically, which a streaming frame refuses
    // outside writeStream.start()
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val counts = new Stream(input.toDF().toDF("word"))
      .groupBy(Fields("word"))
      .aggregate(Fields("word"), CountAgg, StructField("cnt", LongType))
      .toDF
    assert(counts.isStreaming)
    assert(counts.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
    }.isEmpty, "a streaming frame was marked one partition")
  }

  test("global, batchGlobal and whole-stream aggregate give the same rows over one and four partitions") {
    val one = spark.range(0, 100, 1, 1).toDF("n")
    val four = one.repartition(4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    Seq[Stream => org.apache.spark.sql.DataFrame](
      _.global().toDF,
      _.batchGlobal().toDF,
      _.aggregate(F.sum("n").as("s")).toDF,
      _.aggregate(Fields("n"), new SumLongAgg(0), StructField("s", LongType)).toDF
    ).foreach { op =>
      assert(rows(op(new Stream(one))) == rows(op(new Stream(four))))
    }
    assert(new Stream(one).global().toDF.rdd.getNumPartitions == 1)
    assert(new Stream(four).global().toDF.rdd.getNumPartitions == 1)
  }
}
