package stormbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `trident-query` and `corpus-ops`: closed-loop passes, one client, over a
  * fixed list of the engine's judged queries in a seed-fixed order.
  *
  * One query is built through `SparkEntry.queries` (the `api` layer,
  * including any jobs the build itself runs), planned (`plans`), executed
  * (`exec`) and its rows deserialized (`result`) - the same steps as
  * `Dataset.collect`, split so the traced run can time each. Every result is
  * fingerprinted outside the timed window and must equal the first pass's;
  * the last pass's rows go to the DuckDB oracle after the run. */
object QueryWorkload {
  /** The queries that run a Trident aggregator adapter over deserialized
    * rows (`partitionAggregate`, Combiner, Reducer and Full aggregators,
    * `multiReduce`). Queries that lower straight to Catalyst are left out,
    * so a pass stays short enough at sf0.1 row counts for several passes
    * to fit one window. */
  val Trident: Seq[String] = Seq("q08_partition_agg", "q09_global_count",
    "q10_sum", "q13_combiner_spi", "q14_reducer_spi", "q15_full_agg_spi",
    "q23_multireduce")
  val Corpus: Seq[String] = Seq("q60_dup_clusters", "q112_dsir_weights",
    "q125_dup_span_mask", "q129_trigram_lm", "q130_best_of_cluster",
    "q149_pagerank", "q163_cluster_sizes", "q188_copy_repair_plan")

  val WarmPasses = 4

  final case class Out(rows: Array[Row], schema: StructType, ms: Double)

  /** Build, plan, execute and collect query `q`. */
  def runQuery(spark: SparkSession, q: String, dir: String, op: String): Out = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val (rows, schema) = Trace.span("query", op) {
      sc.setJobGroup("build", q)
      val df: DataFrame = Trace.span("api.build", op)(SparkEntry.queries(q)(spark, dir))
      val qe = df.queryExecution
      Trace.span("plans.analyze", op)(qe.analyzed)
      Trace.span("plans.optimize", op)(qe.optimizedPlan)
      Trace.span("plans.physical", op)(qe.executedPlan)
      sc.setJobGroup("exec", q)
      val des = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
      val out = SQLExecution.withNewExecutionId(qe, Some("collect")) {
        val internal = Trace.span("exec", op)(qe.executedPlan.executeCollect())
        Trace.span("result", op)(internal.map(r => des(r)))
      }
      sc.clearJobGroup()
      (out, df.schema)
    }
    Out(rows, schema, (System.nanoTime() - t0) / 1e6)
  }

  /** Order-independent fingerprint of a result: row count and the sum of
    * the rows' hashes. */
  def fingerprint(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map(r =>
      scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong).sum)

  def run(o: Opts, r: Result, names: Seq[String]): Unit = {
    val dir = o.data.toAbsolutePath.toString
    val (spark, setupS, setups) = Runtime.setUp(3) {
      val s = Runtime.session(o, o.cores)
      SparkEntry.warmTables(s, dir)
      s
    }(Runtime.stop)
    r.metric("setup_s", setupS, "s", setups.size)
    r.props("setups_s") = setups.map(x => f"$x%.3f").mkString(" ")
    r.mark("setup")
    val exec = new ExecListener
    spark.sparkContext.addSparkListener(exec)

    val order = new scala.util.Random(o.seed).shuffle(names)
    r.props("pass_order") = order.mkString(" ")
    val first = mutable.Map[String, (Long, Long)]()
    val executions = mutable.Map[String, Long]().withDefaultValue(0L)
    val last = mutable.Map[String, Out]()
    val perQuery = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    var passNo = 0

    /** One pass; returns its summed query ms (checks excluded). */
    def pass(timed: Boolean): Double = {
      passNo += 1
      val qms = order.map { q =>
        if (timed) r.attempted += 1
        val res =
          try Some(runQuery(spark, q, dir, s"p$passNo:$q"))
          catch { case e: Exception =>
            r.error(s"$q failed: ${e.getMessage}"); None
          }
        res match {
          case Some(out) =>
            val fp = fingerprint(out.rows)
            if (first.getOrElseUpdate(q, fp) != fp) {
              r.error(s"$q: pass $passNo result differs from pass 1")
              if (timed) r.failed += 1
            }
            if (timed) {
              executions(q) += 1
              perQuery.getOrElseUpdate(q, mutable.ArrayBuffer()) += out.ms
            }
            last(q) = out
            out.ms
          case None =>
            if (timed) r.failed += 1
            0.0
        }
      }
      qms.sum
    }

    // untimed passes: the first compiles every query's generated code,
    // and pass time keeps falling for a few passes more while the JIT
    // catches up. A count, not a time, so a slow machine warms as much.
    val warm = Seq.fill(WarmPasses)(pass(timed = false))
    r.props("warm_pass_ms") = warm.map(x => f"$x%.0f").mkString(" ")
    r.mark("warm")

    /** Timed passes until their summed query time reaches `secs`. */
    def window(secs: Double): Seq[Double] = {
      val passes = mutable.ArrayBuffer[Double]()
      while (passes.sum < secs * 1000) passes += pass(timed = true)
      passes.toSeq
    }

    /** The oracle's inputs: the last pass's rows of every query, written
      * after the timed window. */
    def writeOracle(): Unit = names.foreach { q =>
      last.get(q).foreach { out =>
        val path = o.work.resolve("results").resolve(q).toAbsolutePath.toString
        spark.createDataFrame(out.rows.toList.asJava, out.schema)
          .coalesce(1).write.parquet(path)
        r.oracle += ((q, SparkEntry.oracleSql(q), path, executions(q)))
      }
    }

    if (!o.trace) {
      // latency is a whole pass, never one query: percentiles over a pool
      // of different queries would land on whichever query sits at the rank
      val passes = window(o.seconds)
      val ok = r.attempted - r.failed
      r.metric("latency_p50_ms", Stats.median(passes), "ms", passes.size)
      r.metric("latency_p90_ms", Stats.quantile(passes, 0.9), "ms", passes.size)
      r.metric("throughput_per_s", ok / (passes.sum / 1000), "1/s", ok.toInt)
      r.props("passes_ms") = passes.map(x => f"$x%.0f").mkString(" ")
      r.mark("window")
    } else {
      val plain = window(o.seconds / 2)
      Runtime.drain(spark)
      exec.reset()
      Trace.reset()
      val gc0 = Runtime.gcMs()
      Runtime.resetHeapPeak()
      Trace.on = true
      val traced = window(o.seconds / 2)
      Trace.on = false
      Runtime.drain(spark)
      val n = traced.size.toDouble
      val m = Layers.empty()
      m("api.build_ms") = Trace.totalMs("api.build") / n
      m("api.build_jobs") = exec.groups.get("build").map(_.jobs.get).getOrElse(0L) / n
      m("plans.analyze_ms") = Trace.totalMs("plans.analyze") / n
      m("plans.optimize_ms") = Trace.totalMs("plans.optimize") / n
      m("plans.physical_ms") = Trace.totalMs("plans.physical") / n
      m("result.ms") = Trace.totalMs("result") / n
      m("result.rows") = last.values.map(_.rows.length.toDouble).sum
      // AQE stage jobs may start outside the query's job group: count them too
      Layers.exec(m, exec, Seq("exec", "stream"), n, Trace.totalMs("exec"))
      Layers.process(m, gc0, n)
      m("trace.coverage") = Trace.coverage("query")
      m("trace.overhead_frac") = Stats.median(traced) / Stats.median(plain) - 1
      writeOracle()
      if (o.workload == "trident-query") {
        // single-core baseline: the same passes at local[1]
        Runtime.stop(spark)
        val one = Runtime.session(o, 1)
        SparkEntry.warmTables(one, dir)
        order.foreach(q => runQuery(one, q, dir, s"1core-warm:$q"))
        val onePass = (1 to 2).map(i =>
          order.map(q => runQuery(one, q, dir, s"1core$i:$q").ms).sum)
        m("exec.speedup_vs_1core") = Stats.median(onePass) / Stats.median(plain)
        Runtime.stop(one)
      }
      Layers.report(r, m)
    }

    r.props("query_p50_ms") = order.map(q =>
      f"$q=${Stats.median(perQuery.getOrElse(q, mutable.ArrayBuffer()).toSeq)}%.0f").mkString(" ")
    r.props("passes_timed") = executions.values.headOption.getOrElse(0L)
    if (!o.trace) {
      r.metric("heap_retained_mb", Runtime.retainedHeapMb(), "MB")
      writeOracle()
    }
    r.mark("oracle")
    if (!spark.sparkContext.isStopped) Runtime.stop(spark)
  }
}
