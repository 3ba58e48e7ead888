package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Scale, Temporal}

/** Skew and co-location utilities: salted aggregation/joins match their
  * unsalted results; bucketed tables join without an exchange. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("saltedAggregate equals plain aggregation (skewed input)") {
    val skewed = (Seq.fill(10000)("hot") ++ (1 to 500).map(i => s"k$i")).toDF("k")
    val salted = Scale.saltedAggregate(skewed, Seq("k"), 16,
        F.count(F.lit(1)).as("cnt"), F.sum("cnt").as("cnt"))
      .as[(String, Long)].collect().toMap
    val plain = skewed.groupBy("k").count().as[(String, Long)].collect().toMap
    assert(salted == plain)
    assert(salted("hot") == 10000L)
  }

  test("saltedJoin equals plain join (skewed fact side)") {
    val fact = (Seq.fill(5000)(1L) ++ (2L to 100L)).toDF("fk")
    val dim = (1L to 100L).map(i => (i, s"d$i")).toDF("dk", "name")
    val salted = Scale.saltedJoin(fact, dim, "fk", "dk", 8)
      .groupBy("name").count().as[(String, Long)].collect().toMap
    val plain = fact.join(dim, fact("fk") === dim("dk"))
      .groupBy("name").count().as[(String, Long)].collect().toMap
    assert(salted == plain)
    assert(salted("d1") == 5000L)
  }

  test("salted ops survive a pre-existing __salt column and un-hashable MapType columns") {
    // __salt collision: the working column must pick a fresh name, and the
    // user's own __salt column must come through untouched
    val withSalt = (Seq.fill(1000)(("hot", 7L)) ++ (1 to 50).map(i => (s"k$i", i.toLong)))
      .toDF("k", "__salt")
    val agg = Scale.saltedAggregate(withSalt, Seq("k"), 8,
        F.count(F.lit(1)).as("cnt"), F.sum("cnt").as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(agg("hot") == 1000L)

    // MapType is not hashable in Spark: the salt must skip it instead of
    // failing the plan at analysis time
    val withMap = (Seq.fill(1000)("hot") ++ (1 to 50).map(i => s"k$i")).toDF("k")
      .withColumn("m", F.map(F.lit("a"), F.col("k")))
      .withColumn("tag", F.length(F.col("k"))) // a hashable non-key column
    val agg2 = Scale.saltedAggregate(withMap, Seq("k"), 8,
        F.count(F.lit(1)).as("cnt"), F.sum("cnt").as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(agg2("hot") == 1000L)

    val dim = (1L to 100L).map(i => (i, s"d$i")).toDF("dk", "name")
    val factWithSalt = (Seq.fill(500)(1L) ++ (2L to 100L)).toDF("fk")
      .withColumn("__salt", F.lit(99L))
    val joined = Scale.saltedJoin(factWithSalt, dim, "fk", "dk", 8)
    assert(joined.columns.count(_ == "__salt") == 1) // user's column survives
    assert(joined.where(F.col("name") === "d1").count() == 500L)
  }

  test("partitioned writes prune the scan to the filtered partitions") {
    val docs = (1 to 300).map(i =>
      (i.toLong, s"text $i", if (i % 3 == 0) "de" else "en")).toDF("id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-part")
    try {
      val path = dir.toString
      Scale.writePartitioned(docs, path, Seq("lang"))
      // one directory per lang, one file per directory (repartition-first)
      val langDirs = new java.io.File(path).listFiles().filter(_.getName.startsWith("lang="))
      assert(langDirs.map(_.getName).toSet == Set("lang=en", "lang=de"))
      val read = spark.read.parquet(path).where($"lang" === "de")
      val plan = read.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(lang"), s"no partition pruning:\n$plan")
      assert(read.count() == 100)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("bucketed tables join with no shuffle exchange") {
    val l = (1L to 1000L).map(i => (i, i * 2)).toDF("id", "a")
    val r = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "b")
    // managed tables go to a database under a temp dir: the session may be
    // another suite's, whose warehouse dir is static
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed")
    spark.sql(s"CREATE DATABASE scale_spec LOCATION '${dir.toUri}'")
    try {
      Scale.writeBucketed(l, "scale_spec.bl", Seq("id"), 8)
      Scale.writeBucketed(r, "scale_spec.br", Seq("id"), 8)
      val joined = spark.table("scale_spec.bl").join(spark.table("scale_spec.br"), "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 1000L)
    } finally {
      spark.sql("DROP DATABASE scale_spec CASCADE")
      graft.util.Fs.deleteRecursively(dir)
    }
  }

  test("zorder2: bit-interleave correctness and 2-D locality of the layout") {
    // hand cases + reference bit-loop
    assert(graft.plans.Expressions.zorder2(0L, 0L) == 0L)
    assert(graft.plans.Expressions.zorder2(1L, 0L) == 1L)
    assert(graft.plans.Expressions.zorder2(0L, 1L) == 2L)
    assert(graft.plans.Expressions.zorder2(3L, 3L) == 15L)
    def naive(x: Long, y: Long): Long =
      (0 until 32).foldLeft(0L)((z, i) =>
        z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val (x, y) = (rnd.nextInt(Int.MaxValue).toLong, rnd.nextInt(Int.MaxValue).toLong)
      assert(graft.plans.Expressions.zorder2(x, y) == naive(x, y))
    }

    // locality: on a 256×256 uniform grid split 4 ways, the z-ordered
    // layout bounds BOTH dimensions per partition (~quadrants, up to range
    // sampling slack); a 1-D sort on x leaves y spanning the full domain
    val grid = spark.range(256L * 256L).select(
      F.expr("id % 256").as("x"), F.expr("id DIV 256").as("y"))
    def spans(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select(F.spark_partition_id().as("p"), F.col("x"), F.col("y"))
        .groupBy("p")
        .agg((F.max("x") - F.min("x")).as("sx"), (F.max("y") - F.min("y")).as("sy"))
        .collect().toSeq.map(r => (r.getLong(1), r.getLong(2)))
    val zLayout = Scale.zorderBy(grid, "x", "y", 4)
    val xLayout = grid.repartitionByRange(4, F.col("x")).sortWithinPartitions("x")
    // the operative metric: how many files would a y-range scan touch?
    // (file pruning reads per-file min/max — a partition here ≈ a file)
    def partsTouched(df: org.apache.spark.sql.DataFrame): Long =
      df.select(F.spark_partition_id().as("p"), F.col("y"))
        .where(F.col("y") < 32).select("p").distinct().count()
    assert(partsTouched(xLayout) == 4)      // x-sorted: every file has small y
    assert(partsTouched(zLayout) <= 3)      // z-clustered: y<32 ⇒ low z range
    val _ = spans(zLayout) // exercised above for the span shape
  }

  test("AQE splits a skewed join partition at runtime (thresholds scaled down)") {
    // one key holds ~90% of the left side; with the skew thresholds scaled
    // to test size, AQE must mark the sort-merge join skew=true and split
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    import s.implicits._
    val left = (Seq.fill(40000)(1L) ++ (2L to 2000L)).toDF("id")
      .withColumn("pad", F.concat_ws("", Seq.fill(8)(F.rand()).map(_.cast("string")): _*))
    val right = (1L to 2000L).toDF("id").withColumn("v", F.col("id") * 2)
    val joined = left.join(right, "id")
    // execute THIS queryExecution (count() would plan separately) so AQE
    // replans it to the final adaptive form
    assert(joined.collect().length == 40000 + 1999)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"), s"AQE did not mark the skew join:\n$plan")
  }

  test("AQE skew split engages THROUGH factFactJoin's merge-hinted SMJ; saltedJoin fallback matches (VERDICT r13 #6)") {
    import graft.functions.Scale
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    import s.implicits._
    // hot orderkey 1 dominates the left fact; right is unique per key
    // (the lineitem x orders shape q223 pins as SMJ via the merge hint)
    val left = (Seq.fill(40000)(1L) ++ (2L to 2000L)).toDF("k")
      .withColumn("pad", F.concat_ws("", Seq.fill(8)(F.rand()).map(_.cast("string")): _*))
    val right = (1L to 2000L).toDF("k").withColumn("v", F.col("k") * 2)
    val joined = Scale.factFactJoin(left, right, Seq("k" -> "k"))
    assert(joined.collect().length == 40000 + 1999)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"factFactJoin lost its SMJ under AQE:\n$plan")
    assert(plan.contains("skew=true"),
      s"AQE did not mark factFactJoin's SMJ skew=true:\n$plan")
    // the saltedJoin fallback (AQE skew off) returns the same multiset
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val left2 = s2.range(40000).select(F.lit(1L).as("k"))
      .unionByName(s2.range(2, 2001).select(F.col("id").as("k")))
    val right2 = s2.range(1, 2001).select(F.col("id").as("rk"),
      (F.col("id") * 2).as("v"))
    def agg(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.groupBy("k").agg(F.count(F.lit(1)).as("n"), F.sum("v").as("sv"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(agg(Scale.saltedJoin(left2, right2, "k", "rk", 8)) ==
      agg(left2.join(right2, left2("k") === right2("rk"))))
  }

  test("salted sessionize/as-of spread one hot key across many tasks, same results") {
    import spark.implicits._
    // one bot user with 20k dense events + a handful of normal users: the
    // plain forms serialize the bot into ONE window task; the salted forms
    // partition on (key, time bucket) so the bot spans span/bucket tasks
    val bot = (0L until 20000L).map(t => ("bot", t * 2, t))
    val normal = for (u <- 1 to 5; t <- 0 to 50)
      yield (s"u$u", t * 97L, (u * 1000 + t).toLong)
    val events = (bot ++ normal).toDF("k", "t", "id")
    val gap = 10L
    val bucketTicks = 1000L
    val plainS = Temporal.sessionize(events, "k", "t", gap, "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val saltedS = Temporal.sessionizeSalted(events, "k", "t", gap, "id", bucketTicks)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(saltedS == plainS)

    val quotes = (0L until 2000L).map(t => ("bot", t * 20, t)).toDF("k", "t", "v")
    def norm(df: org.apache.spark.sql.DataFrame) = df.select("id", "asof_v")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val plainA = norm(Temporal.asofJoinBackward(events, quotes, "k", "t", "t", "v", "asof_v"))
    val saltedA = norm(Temporal.asofJoinBackwardSalted(events, quotes, "k", "t", "t", "v",
      "asof_v", bucketTicks))
    assert(saltedA == plainA)

    // the heavy window really partitions on (key, bucket): its exchange
    // hashes both columns
    val p = Temporal.sessionizeSalted(events, "k", "t", gap, "id", bucketTicks)
      .queryExecution.executedPlan.toString
    assert(p.contains("__bkt"), s"salted form lost the bucket salt:\n$p")
  }

  test("duplicateClusters: a long chain converges when maxIter covers the diameter") {
    import graft.functions.Dedup
    // a 40-node path graph: worst-case diameter for label propagation —
    // min-label reaches the far end in O(diameter) rounds. With the seed
    // fold (round 0 = min of self+neighbors) the distance halves... no:
    // plain propagation needs ~diameter rounds, so maxIter=40 must converge
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Dedup.duplicateClusters(chain, "a", "b", maxIter = 45)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 40)
    assert(labels.values.forall(_ == 0L), "whole chain must collapse to cluster 0")

    // under-budgeted rounds: labels are only PARTIALLY propagated (the
    // documented behavior — a warning is logged); the near end is done,
    // the far end is not
    val partial = Dedup.duplicateClusters(chain, "a", "b", maxIter = 3)
      .as[(Long, Long)].collect().toMap
    assert(partial(1L) == 0L)
    assert(partial(39L) != 0L, "3 rounds cannot reach the far end of a 40-chain")
  }

  test("orderedHistory bounds a hot key's buffer: 100k-event key, first_n aggregate") {
    import spark.implicits._
    // one bot key with 100k events (descending arrival so the cap has to
    // evict, not just stop appending) + a small key for the general shape
    val bot = (100000L to 1L by -1L).map(t => ("bot", t, s"e$t"))
    val small = Seq(("u1", 2L, "b"), ("u1", 1L, "a"), ("u1", 3L, "c"))
    val df = (bot ++ small).toDF("k", "t", "v")
    val out = Temporal.orderedHistory(df, "k", "t", "v", 5)
      .as[(String, String, Long)].collect().map { case (k, h, n) => k -> ((h, n)) }.toMap
    assert(out("bot") == (("e1|e2|e3|e4|e5", 100000L)))
    assert(out("u1") == (("a|b|c", 3L)))
    // the cap lives INSIDE the aggregation (first_n), not in a post-slice
    // over a whole-group collect_list
    val plan = Temporal.orderedHistory(df, "k", "t", "v", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("first_n"), s"expected bounded first_n aggregate:\n$plan")
    assert(!plan.contains("collect_list"), s"unbounded collect_list present:\n$plan")
  }

  test("misraGries: survivor guarantee and size bound on adversarial orderings") {
    val rnd = new scala.util.Random(37)
    for (trial <- 1 to 20) {
      val k = 2 + rnd.nextInt(8)
      val n = 50 + rnd.nextInt(400)
      val stream = Vector.fill(n)(s"k${rnd.nextInt(30)}")
      // adversarial too: heavy key's occurrences all at the front (maximal
      // decrement exposure afterwards) and all at the back
      val heavy = Vector.fill(n)("h")
      for (s <- Seq(stream, stream ++ heavy, heavy ++ stream)) {
        val out = Scale.misraGries(s.iterator, k).toSet
        assert(out.size <= k, s"trial $trial: ${out.size} > k=$k")
        val exact = s.groupBy(identity).view.mapValues(_.size).toMap
        exact.foreach { case (key, c) =>
          if (c * k > s.length)
            assert(out.contains(key),
              s"trial $trial k=$k: heavy key $key ($c of ${s.length}) dropped")
        }
      }
    }
  }

  test("bloomSemiJoin equals plain left_semi; bloom predicate prunes before the join") {
    // a lossy bloom (fpp .5) over a large-ish domain WILL produce false
    // positives — equality with the plain semi-join proves the finishing
    // join removes them; null probe keys must drop per semi-join semantics
    val big = ((1L to 5000L) ++ Seq.fill(50)(14L)).toDF("k")
      .union(Seq.empty[Long].toDF("k").select(F.lit(null).cast("long").as("k")))
      .repartition(5)
    val small = (1L to 5000L by 13L).toDF("sk")
    val got = Scale.bloomSemiJoin(big, small, "k", "sk", fpp = 0.5)
      .as[Long].collect().sorted.toSeq
    val want = big.join(small, big("k") === small("sk"), "left_semi")
      .as[Long].collect().sorted.toSeq
    assert(got == want)
    assert(got.count(_ == 14L) == 51)  // multiplicity preserved (semi, not inner)

    // the sketch probe sits in a Filter BELOW the join — the pruning is
    // plan-structural, not incidental. (A non-local probe: over a
    // LocalRelation, ConvertToLocalRelation folds the filter at plan time
    // and there is nothing to see.)
    val rangeBig = spark.range(1L, 5001L).select(F.col("id").as("k"))
    val plan = Scale.bloomSemiJoin(rangeBig, small, "k", "sk")
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom probe in the plan:\n$plan")

    // empty build side → empty result, no crash on the null sketch
    val none = small.where(F.lit(false))
    assert(Scale.bloomSemiJoin(big, none, "k", "sk").count() == 0L)

    // mismatched key types would silently hash-diverge: must refuse loudly
    val intSmall = (1 to 10).toDF("sk")
    intercept[IllegalArgumentException] {
      Scale.bloomSemiJoin(big, intSmall, "k", "sk")
    }
  }

  test("heavyHitters equals plain groupBy+HAVING on skewed multi-partition input") {
    val rows = Seq.fill(5000)("hot") ++ Seq.fill(900)("warm") ++
      (1 to 3000).map(i => s"cold${i % 800}")
    val df = rows.toDF("word").repartition(7)
    val got = Scale.heavyHitters(df, "word", k = 10)
      .as[(String, Long)].collect().toMap
    val total = rows.length.toLong
    val want = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * 10 > total }.toMap
    assert(got == want)
    assert(got.contains("hot") && got.contains("warm"))
  }

  test("kmvDistinct: hand-computed sketch, exact below k, slice-merge equivalence, native TopK plan") {
    import graft.functions.Scale
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val vals = (1 to 20).map(i => s"u$i")
    val df = (vals.map(("big", _)) ++ Seq(("small", "a"), ("small", "b"), ("small", "a")))
      .toDF("g", "v")
    val got = Scale.kmvDistinct(df, "g", "v", k = 4)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // hand-replay: 4 smallest md5s of the 20 distinct values
    val sorted = vals.map(md5hex).sorted
    val kth60 = java.lang.Long.parseLong(sorted(3).take(15), 16)
    assert(got("big")._2 == 4L && got("big")._3 == kth60)
    assert(got("big")._4 == 3L * 1152921504606846976L / kth60)
    // below k: exact count, no estimation
    assert(got("small")._2 == 2L && got("small")._4 == 2L)
    // order independence (the merge property in effect: per-partition
    // heaps combine to the same k minima whatever the row placement)
    val shuffled = Scale.kmvDistinct(df.orderBy(F.rand(7)), "g", "v", k = 4)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(shuffled == got)
    // plan: the native bounded heap, not a window sort
    val p = Scale.kmvDistinct(df, "g", "v", k = 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("TopKPartial") && p.contains("TopKFinal"),
      s"native TopK not planned:\n$p")
    assert(!p.contains("Window"), s"window fallback leaked in:\n$p")
    // null values carry no identity: they neither count nor poison the
    // k-minima (Spark sorts null hashes first, DuckDB last — a surviving
    // null would diverge the engines)
    val withNulls = (vals.map(v => ("big", v)) :+ (("big", null: String)) :+
      (("onlynull", null: String))).toDF("g", "v")
    val gotN = Scale.kmvDistinct(withNulls, "g", "v", k = 4)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(gotN("big") == got("big"))
    assert(!gotN.contains("onlynull"))
    // statistical sanity at scale: 20k distinct values, k=256 -> the
    // estimator should land within ~20% (3 sigma of 1/sqrt(k))
    val many = (1 to 20000).map(i => ("g", s"value$i")).toDF("g", "v")
    val est = Scale.kmvDistinct(many, "g", "v", k = 256)
      .select("est").as[Long].head()
    assert(est > 16000L && est < 24000L, s"KMV estimate $est for 20000 distinct")
  }

  test("kmvDistinctSharded: merged sketch is bit-identical to the direct global sketch") {
    import graft.functions.Scale
    // values deliberately SPAN shards (shard = a value-independent tag),
    // so the same value's hash survives in several per-shard sketches
    // and the merge's union->distinct->re-TopK is genuinely exercised
    val rows = (1 to 500).flatMap { i =>
      val g = if (i % 3 == 0) "a" else "b"
      (0 until (i % 4) + 1).map(rep => (g, s"u${i % 120}", (i + rep).toLong))
    }
    val df = rows.toDF("g", "v", "tag")
    val direct = Scale.kmvDistinct(df, "g", "v", k = 16)
      .orderBy("g").as[(String, Long, Long, Long)].collect().toSeq
    for (nShards <- Seq(2, 7, 32)) {
      val merged = Scale.kmvDistinctSharded(df, "g", "v",
          F.col("tag") % nShards, k = 16)
        .orderBy("g").as[(String, Long, Long, Long)].collect().toSeq
      assert(merged == direct, s"shard split $nShards diverged from direct")
    }
    // degenerate: one shard = the direct form trivially
    val one = Scale.kmvDistinctSharded(df, "g", "v", F.lit(0), k = 16)
      .orderBy("g").as[(String, Long, Long, Long)].collect().toSeq
    assert(one == direct)
  }

  test("HLL approx distinct (approx_count_distinct) sits within its 15% error bound") {
    // the spec home of the retired Verify q76 estimate-bound guard: HLL
    // register contents are engine-internal (which is why the JUDGED
    // sketch faces are KMV, oracled cell-exact), but the API's estimates
    // must honor the documented bound — HLL++ default rsd 0.05, 3 sigma
    // -> 15% relative (small groups get an absolute floor of 3)
    val df = (1 to 60000).map { i =>
      val g = s"t${i % 5}"
      (g, s"user${i % (700 * (i % 5 + 1))}")
    }.toDF("event_type", "user_id")
    val out = df.groupBy("event_type")
      .agg(F.approx_count_distinct("user_id").as("approx_users"),
        F.countDistinct("user_id").as("exact_users"))
      .as[(String, Long, Long)].collect()
    assert(out.length == 5)
    out.foreach { case (g, approx, exact) =>
      assert(math.abs(approx - exact) <= math.max(3.0, exact * 0.15),
        s"group $g: HLL estimate $approx outside 15% of exact $exact")
    }
  }

  test("coMomentMatrix: hand-computed moments, covariance identity, O(d²) shuffle shape") {
    import graft.functions.Similarity
    // v1 = (0.1, -0.2, 0.3), v2 = (0.0, 0.5, -0.1) -> ppm components
    // q1 = (1e5, -2e5, 3e5), q2 = (0, 5e5, -1e5)
    val emb = Seq(
      (1L, Array(0.1f, -0.2f, 0.3f)),
      (2L, Array(0.0f, 0.5f, -0.1f))).toDF("vec_id", "embedding")
    val out = Similarity.coMomentMatrix(emb, "embedding")
      .withColumn("sum_prod", $"sum_prod".cast("long")) // DECIMAL(38,0) face
      .orderBy("i", "j")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.length == 6) // d(d+1)/2 upper-triangle pairs for d=3
    val m = out.map(r => (r._1, r._2) -> r).toMap
    assert(m((0L, 0L)) == (0L, 0L, 2L, 10000000000L, 100000L, 100000L))
    assert(m((0L, 1L)) == (0L, 1L, 2L, -20000000000L, 100000L, 300000L))
    assert(m((1L, 2L)) == (1L, 2L, 2L, -110000000000L, 300000L, 200000L))
    assert(m((2L, 2L)) == (2L, 2L, 2L, 100000000000L, 200000L, 200000L))
    // covariance identity: dim-0 population variance from the moments
    // (n·sum_prod − sum_i²) / (n²·1e12) == var of {0.1, 0.0} == 0.0025
    val (_, _, n, sp, si, _) = m((0L, 0L))
    assert((n * sp - si * si).toDouble / (n.toDouble * n * 1e12) == 0.0025)
    // moments MERGE: computing each vector separately and adding gives
    // the corpus moments (the 100 TB slice-accumulation property)
    val half1 = Similarity.coMomentMatrix(emb.where($"vec_id" === 1L), "embedding")
    val half2 = Similarity.coMomentMatrix(emb.where($"vec_id" === 2L), "embedding")
    val merged = half1.unionByName(half2).groupBy("i", "j")
      .agg(F.sum("n").as("n"), F.sum("sum_prod").as("sum_prod"),
        F.sum("sum_i").as("sum_i"), F.sum("sum_j").as("sum_j"))
      .withColumn("sum_prod", $"sum_prod".cast("long"))
      .orderBy("i", "j")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(merged.toSeq == out.toSeq)
    // plan: pair generation stays in the scan stage; the one exchange
    // moves d² partial aggregates (map-side combine), no object buffers
    val plan = Similarity.coMomentMatrix(emb, "embedding")
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
    assert(!plan.contains("ObjectHashAggregate"), s"object buffer leaked:\n$plan")
  }

  test("dimensionRobustStats: hand-computed median/MAD, outlier insensitivity vs the moment tier") {
    import graft.functions.Similarity
    // dim 0 values: 0.1, 0.2, 0.3, 100.0 (a corrupt vector) ->
    // q2 = 2e5, 4e5, 6e5, 2e8; median(q2) = (4e5+6e5)/2 = 5e5 (even-int
    // midpoint, exact); deviations*2 |q2-med|*2 = 6e5, 2e5, 2e5, 3.99e8
    // -> MAD4 = (2e5+6e5)/2 = 4e5
    val emb = Seq(
      (1L, Array(0.1f, 1.0f)), (2L, Array(0.2f, 1.0f)),
      (3L, Array(0.3f, 1.0f)), (4L, Array(100.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.dimensionRobustStats(emb, "embedding")
      .orderBy("pos").as[(Long, Long, Long, Long)].collect()
    assert(out(0) == (0L, 4L, 500000L, 400000L))
    // constant dimension: median = value, MAD = 0
    assert(out(1) == (1L, 4L, 2000000L, 0L))
    // the robust location barely moved off the clean median (0.25 ppm2
    // scale = 5e5) while the MEAN was dragged to ~25.15 — the reason
    // this face complements q176's moments
    assert(out(0)._3 / 2e6 == 0.25)
  }

  test("dimensionRobustStatsSketch: bottom-k selection replay, k>=n degeneracy, sketch-tier robustOutliers") {
    import graft.functions.Similarity
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // 200 vectors, dim 2; k = 32 — brute-force the bottom-32 md5(id)
    // sample per dimension and the lower nearest-rank median/MAD reads
    val vecs = (1L to 200L).map(i =>
      (i, Array((i * 0.003).toFloat, (1.0 - i * 0.001).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val q2 = vecs.map { case (id, a) =>
      id -> a.map(x => Math.round(x.toDouble * 1e6) * 2L) }.toMap
    val sampleIds = vecs.map(_._1).sortBy(id => md5hex(id.toString)).take(32)
    def nearestRank(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s(((500000L * (s.size - 1)) / 1000000L).toInt)
    }
    val got = Similarity.dimensionRobustStatsSketch(df, "vec_id", "embedding", k = 32)
      .orderBy("pos").as[(Long, Long, Long, Long)].collect()
    for (p <- 0 until 2) {
      val sample = sampleIds.map(id => q2(id)(p))
      val med = nearestRank(sample)
      val mad = nearestRank(sample.map(v => (v - med).abs * 2L))
      assert(got(p) == (p.toLong, 32L, med, mad), s"dim $p: ${got(p)}")
    }
    // k >= n: the sample IS the corpus; on odd n the lower nearest-rank
    // median equals the exact tier's interpolated one, so sketch == exact
    val odd = vecs.take(51).toDF("vec_id", "embedding")
    val exact = Similarity.dimensionRobustStats(odd, "embedding")
      .orderBy("pos").as[(Long, Long, Long, Long)].collect()
    val skAll = Similarity.dimensionRobustStatsSketch(odd, "vec_id", "embedding", k = 1024)
      .orderBy("pos").as[(Long, Long, Long, Long)].collect()
    assert(exact.toSeq == skAll.toSeq)
    // sketch-tier robustOutliers: with k >= n the scores fold the same
    // model, so the planted-outlier audit matches the exact tier
    val planted = (vecs.take(20) :+ (999L, Array(5.0f, 5.0f))).toDF("vec_id", "embedding")
    val exactTop = Similarity.robustOutliers(planted, "vec_id", "embedding", topN = 3,
        sketchK = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val skTop = Similarity.robustOutliers(planted, "vec_id", "embedding", topN = 3,
        sketchK = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactTop == skTop)
    assert(skTop.exists(_._1 == 999L))
  }

  test("principalDirection: diagonal case exact, rank-1 axis recovery, translation/duplication invariance") {
    import graft.functions.Similarity
    // diagonal covariance diag(0.16, 0.01): gram = (1.6e11, 1e10), ratio
    // exactly 16, so the off-axis iterate floors 1e6 -> 62500 -> 3906 ->
    // 244 -> 15 -> 0 and the result is EXACTLY the dominant basis vector
    val diag = Seq(
      (1L, Array(0.4f, 0.1f)), (2L, Array(-0.4f, 0.1f)),
      (3L, Array(0.4f, -0.1f)), (4L, Array(-0.4f, -0.1f)))
      .toDF("vec_id", "embedding")
    val dOut = Similarity.principalDirection(diag, "embedding")
      .orderBy("dim").as[(Long, Long)].collect()
    assert(dOut.toSeq == Seq((0L, 1000000L), (1L, 0L)))
    // rank-1 corpus t·(0.1, 0.2, 0.3): the single eigen-direction is the
    // axis itself, normalized to max-component 1e6 (ratios 1:2:3 up to
    // the per-iterate integer floor)
    val ts = Seq(1.0f, -1.0f, 0.5f, -0.25f)
    val base = ts.zipWithIndex.map { case (t, i) =>
      (i.toLong, Array(0.1f * t, 0.2f * t, 0.3f * t)) }
    val emb = base.toDF("vec_id", "embedding")
    val v = Similarity.principalDirection(emb, "embedding")
      .orderBy("dim").as[(Long, Long)].collect().map(_._2)
    assert(v(2) == 1000000L, s"dominant axis not normalized: ${v.toSeq}")
    assert(math.abs(v(1) - 666667L) <= 3 && math.abs(v(0) - 333333L) <= 3,
      s"axis ratios off: ${v.toSeq}")
    // translation invariance — the covariance numerator n·sp − si·sj
    // cancels a uniform +0.05 shift EXACTLY (integer ppm offsets are
    // additive constants), so the direction is bit-identical
    val shifted = base.map { case (id, a) => (id, a.map(_ + 0.05f)) }
      .toDF("vec_id", "embedding")
    val vShift = Similarity.principalDirection(shifted, "embedding")
      .orderBy("dim").as[(Long, Long)].collect().map(_._2)
    assert(vShift.toSeq == v.toSeq)
    // duplication invariance — doubling the corpus scales C and n² by
    // the same 4x, so the gram (and every iterate) is bit-identical:
    // the slice-merge property in eigensolve form
    val doubled = emb.unionByName(
      base.map { case (id, a) => (id + 100L, a) }.toDF("vec_id", "embedding"))
    val vDup = Similarity.principalDirection(doubled, "embedding")
      .orderBy("dim").as[(Long, Long)].collect().map(_._2)
    assert(vDup.toSeq == v.toSeq)
  }

  test("principalProjection: exact integer dot, self-projection ranks the rank-1 corpus, zero exchange") {
    import graft.functions.Similarity
    // hand-check: v = (2, -3, 1)·1e... direction entries are plain longs
    val emb = Seq(
      (1L, Array(0.1f, 0.2f, 0.3f)),
      (2L, Array(-0.5f, 0.0f, 0.25f))).toDF("vec_id", "embedding")
    val dir = Array(2L, -3L, 1L)
    val got = Similarity.principalProjection(emb, "vec_id", "embedding", dir)
      .orderBy("vec_id").as[(Long, Long)].collect()
    // q1 = (1e5, 2e5, 3e5): 2·1e5 − 3·2e5 + 1·3e5 = −1e5
    // q2 = (−5e5, 0, 25e4): 2·(−5e5) + 25e4 = −75e4
    assert(got.toSeq == Seq((1L, -100000L), (2L, -750000L)))
    // self-projection on a rank-1 corpus: |proj| orders by |t| exactly
    val ts = Seq(1.0f, -1.0f, 0.5f, -0.25f)
    val base = ts.zipWithIndex.map { case (t, i) =>
      (i.toLong, Array(0.1f * t, 0.2f * t, 0.3f * t)) }.toDF("vec_id", "embedding")
    val v = Similarity.principalDirection(base, "embedding")
      .orderBy("dim").as[(Long, Long)].collect().map(_._2)
    val projs = Similarity.principalProjection(base, "vec_id", "embedding", v)
      .as[(Long, Long)].collect().toMap
    assert(math.abs(projs(0L)) > math.abs(projs(2L)) &&
      math.abs(projs(2L)) > math.abs(projs(3L)))
    assert(projs(0L) == -projs(1L)) // t = ±1 mirror exactly
    // plan: the model is a literal, the pass is one scan — no exchange
    val plan = Similarity.principalProjection(emb, "vec_id", "embedding", dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection shuffled:\n$plan")
  }

  test("kmvPairOverlap: exact below k, hand-replayed Beyer estimators above k, order independence") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // below-k tier: union sketch IS the union, so K-cap counts are EXACT
    val small = (Seq("p", "q", "r").map(("x", _)) ++
      Seq("q", "r", "s").map(("y", _)) ++ Seq(("y", "q"))).toDF("g", "v")
    val sm = Scale.kmvPairOverlap(small, "g", "v", k = 8).collect().head
    assert(sm.getAs[String]("g1") == "x" && sm.getAs[String]("g2") == "y")
    assert(sm.getAs[Long]("union_filled") == 4L)
    assert(sm.getAs[Long]("union_est") == 4L)
    assert(sm.getAs[Long]("k_common") == 2L)
    assert(sm.getAs[Long]("inter_est") == 2L)
    assert(sm.getAs[Long]("truth_common") == 2L)
    assert(sm.getAs[Long]("err_ppm") == 0L)
    assert(sm.getAs[Long]("jaccard_ppm") == 2L * 1000000L / 4L)
    // estimate tier at k=8: two 40-element sets sharing 20 — replay the
    // sketch algebra by hand on md5 strings
    val k = 8
    val aVals = (1 to 40).map(i => s"user$i")
    val bVals = (21 to 60).map(i => s"user$i")
    val big = (aVals.map(("a", _)) ++ bVals.map(("b", _))).toDF("g", "v")
    val got = Scale.kmvPairOverlap(big, "g", "v", k = k).collect().head
    val ska = aVals.map(md5hex).sorted.take(k)
    val skb = bVals.map(md5hex).sorted.take(k)
    val l = (ska ++ skb).distinct.sorted.take(k)
    val kth60 = java.lang.Long.parseLong(l.last.take(15), 16)
    val unionEst = (BigInt(k - 1) * BigInt(2).pow(60) / kth60).toLong
    val kCommon = l.count(h => ska.contains(h) && skb.contains(h)).toLong
    val interEst = (BigInt(kCommon) * unionEst / k).toLong
    // n1/n2 are sketch FILL counts (min(distinct, k)) — the k-cap is the
    // whole point of the bounded sketch
    assert(got.getAs[Long]("n1") == k.toLong && got.getAs[Long]("n2") == k.toLong)
    assert(got.getAs[Long]("union_filled") == k.toLong)
    assert(got.getAs[Long]("kth_60") == kth60)
    assert(got.getAs[Long]("union_est") == unionEst)
    assert(got.getAs[Long]("k_common") == kCommon)
    assert(got.getAs[Long]("inter_est") == interEst)
    assert(got.getAs[Long]("truth_common") == 20L)
    assert(got.getAs[Long]("err_ppm") == (BigInt(interEst - 20L) * 1000000 / 20).toLong)
    // row placement must not matter (heap merge property)
    val shuffled = Scale.kmvPairOverlap(big.orderBy(F.rand(11)), "g", "v", k = k)
      .collect().head
    assert(shuffled == got)
    // pair fan-out: G groups -> C(G,2) rows, g1 < g2 everywhere
    val multi = (1 to 200).map(i => (s"g${i % 5}", s"v${i % 37}")).toDF("g", "v")
    val pairs = Scale.kmvPairOverlap(multi, "g", "v", k = 4)
      .select("g1", "g2").as[(String, String)].collect()
    assert(pairs.length == 10 && pairs.forall { case (a, b) => a < b })
  }

  test("joinSkewForecast: exact output cardinality, worst-key salt factor, topN tie-break") {
    // hot key 1: 100x100; keys 2,3: 1x1 -> rows_out 10002, salt_rec =
    // floor(10000*3/10002) = 2 (the hot key carries 2x an average key's work)
    val left = (Seq.fill(100)(1L) ++ Seq(2L, 3L) ++ Seq(9L))
      .toDF("lk") // key 9 unmatched: must not count
    val right = (Seq.fill(100)(1L) ++ Seq(2L, 3L) ++ Seq(8L)).toDF("rk")
    val out = Scale.joinSkewForecast(left, right, "lk", "rk", topN = 2).collect()
    assert(out.length == 2) // topN caps the detail rows
    val top = out.head
    assert(top.getAs[Long]("key") == 1L)
    assert(top.getAs[Long]("c_left") == 100L && top.getAs[Long]("c_right") == 100L)
    assert(top.getAs[Long]("contrib") == 10000L)
    assert(top.getAs[Long]("rows_out") == 10002L)
    assert(top.getAs[Long]("n_shared_keys") == 3L)
    assert(top.getAs[Long]("max_contrib") == 10000L)
    assert(top.getAs[Long]("salt_rec") == 2L)
    assert(top.getAs[Long]("contrib_ppm") == 10000L * 1000000L / 10002L)
    // ties break on the key ascending (2 before 3)
    assert(out(1).getAs[Long]("key") == 2L)
    // forecast equals the real join's count — the whole point
    val real = left.join(right, F.col("lk") === F.col("rk")).count()
    assert(real == 10002L)
    // null keys never match in an equi-join: excluded from the forecast
    val withNulls = (Seq[java.lang.Long](1L, null, null))
      .toDF("lk")
    val f2 = Scale.joinSkewForecast(withNulls, right, "lk", "rk", topN = 5)
      .collect()
    assert(f2.length == 1 && f2.head.getAs[Long]("rows_out") == 100L)
  }

  test("digestManifest: order-independent, corruption-localizing, slice-additive, null-distinct") {
    def digests(rows: Array[org.apache.spark.sql.Row]): Map[Long, (Long, BigInt)] =
      rows.map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("cnt"),
          BigInt(r.getAs[Long]("digest_hi")) * BigInt(2).pow(60) +
            r.getAs[Long]("digest_lo"))).toMap
    val base = (1L to 500L).map(i => (i, s"v$i", i * 7 % 93)).toDF("id", "s", "n")
    val m1 = digests(Scale.digestManifest(base, "id", Seq("id", "s", "n"), 8).collect())
    // order and partitioning must not matter (the digest is a sum)
    val m2 = digests(Scale.digestManifest(base.orderBy(F.rand(5)).repartition(13),
      "id", Seq("id", "s", "n"), 8).collect())
    assert(m1 == m2)
    assert(m1.values.map(_._1).sum == 500L)
    // flip ONE cell: exactly the owning shard's digest moves, cnt stays
    val corrupt = base.withColumn("n",
      F.when(F.col("id") === 137L, F.lit(-1L)).otherwise(F.col("n")))
    val mc = digests(Scale.digestManifest(corrupt, "id", Seq("id", "s", "n"), 8).collect())
    val changed = m1.keySet.filter(k => m1(k)._2 != mc(k)._2)
    assert(changed.size == 1, s"changed shards: $changed")
    assert(m1(changed.head)._1 == mc(changed.head)._1) // cnt unchanged
    assert((m1.keySet - changed.head).forall(k => m1(k) == mc(k)))
    // slice additivity: manifest(A union B) == manifest(A) + manifest(B)
    val a = base.where(F.col("id") <= 250L)
    val b = base.where(F.col("id") > 250L)
    val ma = digests(Scale.digestManifest(a, "id", Seq("id", "s", "n"), 8).collect())
    val mb = digests(Scale.digestManifest(b, "id", Seq("id", "s", "n"), 8).collect())
    (ma.keySet ++ mb.keySet).foreach { k =>
      val (ca, da) = ma.getOrElse(k, (0L, BigInt(0)))
      val (cb, db) = mb.getOrElse(k, (0L, BigInt(0)))
      assert(m1(k) == (ca + cb, da + db), s"shard $k not additive")
    }
    // a NULL cell digests differently from empty string (sentinel encoding)
    val withNull = Seq((1L, null.asInstanceOf[String]), (2L, "x")).toDF("id", "s")
    val withEmpty = Seq((1L, ""), (2L, "x")).toDF("id", "s")
    val dn = digests(Scale.digestManifest(withNull, "id", Seq("id", "s"), 1).collect())
    val de = digests(Scale.digestManifest(withEmpty, "id", Seq("id", "s"), 1).collect())
    assert(dn(0L)._2 != de(0L)._2)
  }

  test("copyRepairPlan: localizes missing/extra/changed to their shards, clean copy yields no rows") {
    def md5Head(s: String): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8), 16)
    def shardOf(id: Long, shards: Int): Long = md5Head(id.toString) % shards
    val src = (1L to 100L).map(i => (i, s"payload$i")).toDF("id", "s")
    val copy = ((1L to 100L).filter(_ != 13L).map(i =>
        (i, if (i == 27L) "CORRUPT" else s"payload$i")) :+ (1000L, "ghost"))
      .toDF("id", "s")
    val out = Scale.copyRepairPlan(src, copy, "id", Seq("id", "s"), shards = 4)
      .collect().map(r => r.getAs[Long]("shard") -> r).toMap
    val touched = Seq(13L, 27L, 1000L).map(shardOf(_, 4)).toSet
    assert(out.keySet == touched, s"shards ${out.keySet} vs expected $touched")
    val sMiss = shardOf(13L, 4); val sChg = shardOf(27L, 4); val sExt = shardOf(1000L, 4)
    assert(out(sMiss).getAs[Long]("n_missing") == 1L)
    assert(out(sChg).getAs[Long]("n_changed") == 1L)
    assert(out(sExt).getAs[Long]("n_extra") == 1L)
    assert(out.values.map(_.getAs[Long]("n_missing")).sum == 1L)
    assert(out.values.map(_.getAs[Long]("n_extra")).sum == 1L)
    assert(out.values.map(_.getAs[Long]("n_changed")).sum == 1L)
    // src/dst counts reflect the shard totals on each side
    assert(out(sMiss).getAs[Long]("src_cnt") ==
      (1L to 100L).count(shardOf(_, 4) == sMiss).toLong)
    // an identical copy produces an EMPTY plan (no shard reaches the row tier)
    assert(Scale.copyRepairPlan(src, src.orderBy(F.rand(3)), "id",
      Seq("id", "s"), shards = 4).count() == 0L)
  }

  test("copyRepairPlan: string ids (non-numeric, zero-padded) diff on the raw id and land on the manifest's shards") {
    def shardOf(id: String, shards: Int): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5").digest(id.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8), 16) % shards
    // zero-padded ids ("doc-007") would cast-to-long as null: under the
    // old long-cast diff every row counted both missing AND extra and
    // the recomputed shard disagreed with the manifest tier
    val src = (1 to 60).map(i => (f"doc-$i%03d", s"payload$i")).toDF("id", "s")
    val copy = ((1 to 60).filter(_ != 7).map(i =>
        (f"doc-$i%03d", if (i == 21) "CORRUPT" else s"payload$i")) :+ ("ghost-id", "ghost"))
      .toDF("id", "s")
    val out = Scale.copyRepairPlan(src, copy, "id", Seq("id", "s"), shards = 4)
      .collect().map(r => r.getAs[Long]("shard") -> r).toMap
    val touched = Seq("doc-007", "doc-021", "ghost-id").map(shardOf(_, 4)).toSet
    assert(out.keySet == touched, s"shards ${out.keySet} vs expected $touched")
    assert(out.values.map(_.getAs[Long]("n_missing")).sum == 1L)
    assert(out.values.map(_.getAs[Long]("n_extra")).sum == 1L)
    assert(out.values.map(_.getAs[Long]("n_changed")).sum == 1L)
    assert(out(shardOf("doc-007", 4)).getAs[Long]("n_missing") == 1L)
    assert(out(shardOf("doc-021", 4)).getAs[Long]("n_changed") == 1L)
    assert(out(shardOf("ghost-id", 4)).getAs[Long]("n_extra") == 1L)
    // identical string-keyed copy: clean
    assert(Scale.copyRepairPlan(src, src.orderBy(F.rand(7)), "id",
      Seq("id", "s"), shards = 4).count() == 0L)
  }

  test("copyRepairPlan: cutRowHashes spelling is row-identical to the 4-scan shape (r17)") {
    val src = (1L to 100L).map(i => (i, s"payload$i")).toDF("id", "s")
    val copy = ((1L to 100L).filter(_ % 7L != 0L).map(i =>
        (i, if (i % 11L == 0L) "CORRUPT" else s"payload$i")) :+ (1000L, "ghost"))
      .toDF("id", "s")
    def rows(cut: Boolean) =
      Scale.copyRepairPlan(src, copy, "id", Seq("id", "s"), shards = 4,
          cutRowHashes = cut)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(rows(cut = true) == rows(cut = false))
    // clean copy stays empty through the cut path too
    assert(Scale.copyRepairPlan(src, src, "id", Seq("id", "s"), shards = 4,
      cutRowHashes = true).count() == 0L)
  }

  test("dimensionRobustStats: single-pass sorted-array midpoint equals the exact-percentile spelling (r17)") {
    import graft.functions.Similarity
    // random corpora, odd AND even group sizes, negative and repeated
    // values — the r17 single-pass rewrite must reproduce the old
    // percentile(0.5)-cast-long two-pass output bit-for-bit
    val rnd = new scala.util.Random(20260818L)
    for (n <- Seq(1, 2, 3, 6, 17, 40)) {
      val vecs = (1L to n.toLong).map(i =>
        (i, Array.fill(3)((rnd.nextDouble() * 4 - 2).toFloat)))
      val df = vecs.toDF("vec_id", "embedding")
      val got = Similarity.dimensionRobustStats(df, "embedding")
        .orderBy("pos").as[(Long, Long, Long, Long)].collect()
      // reference: the pre-r17 spelling (two exact-percentile passes)
      val comps = df.where(F.col("embedding").isNotNull)
        .select(F.posexplode(F.col("embedding")).as(Seq("pos", "v")))
        .select(F.col("pos").cast("long").as("pos"),
          (F.round(F.col("v").cast("double") * F.lit(1e6)).cast("long") * 2L)
            .as("q2"))
      val med = comps.groupBy("pos")
        .agg(F.count(F.lit(1)).as("n"),
          F.percentile(F.col("q2"), F.lit(0.5)).cast("long").as("med_ppm2"))
      val want = comps.join(F.broadcast(med), "pos")
        .select(F.col("pos"), F.col("n"), F.col("med_ppm2"),
          (F.abs(F.col("q2") - F.col("med_ppm2")) * 2L).as("__dev4"))
        .groupBy("pos", "n", "med_ppm2")
        .agg(F.percentile(F.col("__dev4"), F.lit(0.5)).cast("long").as("mad_ppm4"))
        .orderBy("pos").as[(Long, Long, Long, Long)].collect()
      assert(got.toSeq == want.toSeq, s"n=$n: ${got.toSeq} vs ${want.toSeq}")
    }
  }

  test("rangePartitionPlan: exact when sample covers, hand-replayed sample tier, skew leaves empty buckets visible") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // full-coverage tier: k >= n, so boundaries are exact ranks and
    // est_cnt == cnt everywhere
    val full = (1L to 100L).map(i => (i, i * 10)).toDF("k", "id")
    val out = Scale.rangePartitionPlan(full, "k", "id", buckets = 4, k = 100)
      .collect()
    assert(out.map(_.getAs[Long]("bucket")).toSeq == (0L to 3L))
    assert(out.map(r => Option(r.getAs[Any]("lo"))).toSeq ==
      Seq(None, Some(25L), Some(50L), Some(75L)))
    assert(out.map(r => Option(r.getAs[Any]("hi"))).toSeq ==
      Seq(Some(25L), Some(50L), Some(75L), None))
    assert(out.map(_.getAs[Long]("cnt")).toSeq == Seq(24L, 25L, 25L, 26L))
    assert(out.forall(r => r.getAs[Long]("err_cnt") == 0L))
    assert(out.map(_.getAs[Long]("share_ppm")).toSeq ==
      Seq(240000L, 250000L, 250000L, 260000L))
    // sampled tier: hand-replay the 20-smallest-md5 sample over 400 rows
    val n = 400
    val rows = (1 to n).map(i => (i.toLong % 57, i.toLong))
    val df = rows.toDF("k", "id")
    val kSamp = 20
    val sampKeys = rows.sortBy(r => md5hex(r._2.toString)).take(kSamp)
      .map(_._1).sorted
    val bs = (1 to 3).map(i => sampKeys(math.max(1, i * kSamp / 4) - 1))
    def bucket(x: Long): Int = bs.count(_ <= x)
    val expCnt = rows.groupBy(r => bucket(r._1)).view.mapValues(_.size.toLong).toMap
    val expSamp = sampKeys.groupBy(bucket).view.mapValues(_.size.toLong).toMap
    val got = Scale.rangePartitionPlan(df, "k", "id", buckets = 4, k = kSamp)
      .collect()
    got.foreach { r =>
      val b = r.getAs[Long]("bucket").toInt
      assert(r.getAs[Long]("cnt") == expCnt.getOrElse(b, 0L), s"cnt bucket $b")
      assert(r.getAs[Long]("samp_cnt") == expSamp.getOrElse(b, 0L), s"samp bucket $b")
      assert(r.getAs[Long]("est_cnt") ==
        expSamp.getOrElse(b, 0L) * n / kSamp, s"est bucket $b")
      assert(r.getAs[Long]("err_cnt") ==
        r.getAs[Long]("est_cnt") - r.getAs[Long]("cnt"))
    }
    assert(got.map(_.getAs[Long]("cnt")).sum == n.toLong)
    // row placement must not matter
    val shuffled = Scale.rangePartitionPlan(df.orderBy(F.rand(7)), "k", "id",
      buckets = 4, k = kSamp).collect()
    assert(shuffled.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
    // skew: one key dominates -> duplicate boundaries -> interior buckets
    // EMPTY and visible (not silently rebalanced)
    val skew = ((1 to 97).map(_ => (42L, 0L)) ++ Seq((1L, 1L), (99L, 2L)))
      .zipWithIndex.map { case ((k0, _), i) => (k0, i.toLong) }.toDF("k", "id")
    val sk = Scale.rangePartitionPlan(skew, "k", "id", buckets = 4, k = 99)
      .collect()
    assert(sk.count(_.getAs[Long]("cnt") == 0L) >= 2,
      sk.map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("cnt"))).mkString(","))
    assert(sk.map(_.getAs[Long]("cnt")).sum == 99L)
    // empty input (nothing non-null to sample): degenerate-but-valid plan,
    // all buckets present with zero counts and null boundaries — no ANSI
    // array-index crash
    val empty = Scale.rangePartitionPlan(
      Seq((Option.empty[Long], 1L)).toDF("k", "id").where(F.col("k").isNotNull),
      "k", "id", buckets = 4, k = 8).collect()
    assert(empty.map(_.getAs[Long]("bucket")).toSeq == (0L to 3L))
    assert(empty.forall(r => r.getAs[Long]("cnt") == 0L))
    assert(empty.forall(r => r.isNullAt(r.fieldIndex("lo")) ||
      r.getAs[Long]("bucket") == 0L))
  }

  test("tableColumnStats: per-column counts/min-max/NDV exact below k, null accounting") {
    val df = Seq(
      (Some(5L), Some("beta")), (Some(-3L), None),
      (None, Some("alpha")), (Some(5L), Some("alpha")))
      .toDF("num", "cat")
    val out = Scale.tableColumnStats(df, bigCols = Seq("num"),
        strCols = Seq("cat"), k = 8)
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    val num = out("num")
    assert(num.getAs[Long]("n_rows") == 4L && num.getAs[Long]("n_null") == 1L)
    assert(num.getAs[Long]("min_big") == -3L && num.getAs[Long]("max_big") == 5L)
    assert(num.isNullAt(num.fieldIndex("min_str")))
    assert(num.getAs[Long]("n_min") == 2L) // distinct {5, -3}
    assert(num.getAs[Long]("ndv_est") == 2L) // below k -> exact
    val cat = out("cat")
    assert(cat.getAs[Long]("n_rows") == 4L && cat.getAs[Long]("n_null") == 1L)
    assert(cat.getAs[String]("min_str") == "alpha")
    assert(cat.getAs[String]("max_str") == "beta")
    assert(cat.isNullAt(cat.fieldIndex("min_big")))
    assert(cat.getAs[Long]("ndv_est") == 2L)
    // estimator tier engages above k and stays in the KMV bound family
    val wide = (1 to 5000).map(i => Tuple1(s"val$i")).toDF("s")
    val est = Scale.tableColumnStats(wide, Nil, Seq("s"), k = 256)
      .select("ndv_est").as[Long].head()
    assert(est > 4000L && est < 6000L, s"NDV estimate $est for 5000 distinct")
  }

  test("meanVector: single hot group stays an O(1)-buffer hash aggregate and matches brute force") {
    import graft.functions.Similarity
    // adversarial shape from VERDICT r7 #3: EVERY vector in one group, so a
    // collect_list spelling would hold all 1000 values per dimension in a
    // single aggregation buffer
    val emb = (1 to 1000).map(i =>
        (0L, Array(i.toFloat / 1000f, -i.toFloat / 700f)))
      .toDF("label", "embedding")
    val out = Similarity.meanVector(emb, "label", "embedding")
    val rows = out.orderBy("pos").collect()
    assert(rows.length == 2)
    // Spark's round(double) is BigDecimal HALF_UP — replay it exactly
    def ppm(v: Float): Long =
      BigDecimal(v.toDouble * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val exp0 = (1 to 1000).map(i => ppm(i.toFloat / 1000f)).sum
    val exp1 = (1 to 1000).map(i => ppm(-i.toFloat / 700f)).sum
    assert(rows(0).getAs[Long]("sum_ppm") == exp0)
    assert(rows(1).getAs[Long]("sum_ppm") == exp1)
    assert(rows(0).getAs[Long]("n") == 1000L)
    // the derived mean uses the pinned two-division order
    assert(rows(0).getAs[Double]("mean") == exp0.toDouble / 1e6 / 1000.0)
    // plan shape: plain codegen HashAggregate over sum/count — no
    // ObjectHashAggregate (the collect_list buffer holder) anywhere
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
    assert(!plan.contains("ObjectHashAggregate") && !plan.contains("collect_list"),
      s"unbounded aggregation buffer in plan:\n$plan")
  }

  test("columnStatsDrift: row ratio, null-rate delta, NDV collapse, range escape") {
    val a = (1L to 100L).map(i => (Some(i), s"cat${i % 4}")).toDF("num", "cat")
    // version b: half the rows, 10 nulls, range escapes above, categories collapse
    val b = ((1L to 40L).map(i => (Some(i * 3), s"cat${i % 2}")) ++
      (1 to 10).map(_ => (None: Option[Long], "cat0"))).toDF("num", "cat")
    val out = Scale.columnStatsDrift(a, b, Seq("num"), Seq("cat"), k = 256)
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    val n = out("num")
    assert(n.getAs[Long]("n_rows_a") == 100L && n.getAs[Long]("n_rows_b") == 50L)
    assert(n.getAs[Long]("rows_ratio_ppm") == 500000L)
    assert(n.getAs[Long]("null_ppm_a") == 0L)
    assert(n.getAs[Long]("null_ppm_b") == 10L * 1000000L / 50L)
    assert(n.getAs[Long]("null_delta_ppm") == 200000L)
    assert(n.getAs[Long]("ndv_a") == 100L && n.getAs[Long]("ndv_b") == 40L)
    assert(n.getAs[Long]("ndv_ratio_ppm") == 400000L)
    assert(n.getAs[Long]("max_b") == 120L && n.getAs[Long]("range_widened") == 1L)
    val c = out("cat")
    assert(c.getAs[Long]("ndv_a") == 4L && c.getAs[Long]("ndv_b") == 2L)
    assert(c.getAs[Long]("ndv_ratio_ppm") == 500000L)
    // string columns carry no numeric range: never flags widening
    assert(c.getAs[Long]("range_widened") == 0L)
    // identical versions -> neutral report
    val same = Scale.columnStatsDrift(a, a, Seq("num"), Seq("cat"), k = 256)
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    assert(same("num").getAs[Long]("rows_ratio_ppm") == 1000000L)
    assert(same("num").getAs[Long]("null_delta_ppm") == 0L)
    assert(same("num").getAs[Long]("ndv_ratio_ppm") == 1000000L)
    assert(same("num").getAs[Long]("range_widened") == 0L)
  }

  test("robustOutliers: brute-force replay of median/MAD z-scores, cap on dead dims, topN cut") {
    import graft.functions.Similarity
    // dim 0 has spread (MAD > 0); dim 1 is constant except the outlier
    // (MAD 0 -> that dim's contribution must CAP, not saturate)
    val vecs: Map[Long, Seq[Double]] =
      ((1L to 9L).map(i => i -> Seq(i * 0.001, 0.5)) :+ (10L -> Seq(1.0, 0.9))).toMap
    val cap = 10000000L
    def med(xs: Seq[Long]): Long = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    val d = 2
    val q2 = vecs.view.mapValues(_.map(x => Math.round(x * 1e6) * 2L)).toMap
    val expected = vecs.keys.map { id =>
      id -> (0 until d).map { p =>
        val col = q2.values.map(_(p)).toSeq
        val m = med(col)
        val mad4 = med(col.map(v => (v - m).abs * 2L))
        math.min((BigInt((q2(id)(p) - m).abs * 2L) * 1000000 /
          BigInt(math.max(mad4, 1L))).toLong, cap)
      }.sum
    }.toMap
    val df = vecs.toSeq.map { case (id, v) => (id, v.map(_.toFloat).toArray) }
      .toDF("vec_id", "embedding")
    val got = Similarity.robustOutliers(df, "vec_id", "embedding", topN = 3,
        sketchK = 0)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("score")).toMap
    // topN = 3 highest expected scores (desc, id tiebreak)
    val want = expected.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(3).toMap
    assert(got == want, s"got $got want $want")
    assert(got.contains(10L)) // the planted outlier survives
    // the dead dim contributes exactly the cap for the outlier
    val outlierDim1 = {
      val col = q2.values.map(_(1)).toSeq
      val m = med(col); val mad4 = med(col.map(v => (v - m).abs * 2L))
      assert(mad4 == 0L, s"dim 1 should be MAD-0, got $mad4")
      cap
    }
    assert(expected(10L) >= outlierDim1)
  }

  test("columnHistogram: hand-computed bins, empty bins visible, tight bounds, epoch-ns range safe") {
    import graft.functions.Scale
    // values 0..9 and 90..99 over 4 bins of nominal width 25 ([0,24],
    // [25,49], [50,74], [75,99]): bins 1 and 2 are EMPTY holes
    val vals = ((0L to 9L) ++ (90L to 99L)).toDF("v")
    val out = Scale.columnHistogram(vals, "v", buckets = 4)
      .orderBy("bucket").collect()
    assert(out.length == 4)
    assert(out.map(_.getAs[Long]("cnt")).toSeq == Seq(10L, 0L, 0L, 10L))
    assert(out(0).getAs[Long]("lo") == 0L && out(0).getAs[Long]("hi") == 24L)
    assert(out(3).getAs[Long]("lo") == 75L && out(3).getAs[Long]("hi") == 99L)
    // tight actual bounds expose the hole inside the nominal bin
    assert(out(0).getAs[Long]("lo_act") == 0L && out(0).getAs[Long]("hi_act") == 9L)
    assert(out(3).getAs[Long]("lo_act") == 90L)
    assert(out(1).isNullAt(out(1).fieldIndex("lo_act"))) // empty bin
    assert(out.map(_.getAs[Long]("share_ppm")).sum == 1000000L)
    // epoch-ns-scale range: (v-mn)*buckets would overflow BIGINT without
    // the DECIMAL widening (range ~4.6e18, x16 = 7e19)
    val ns = Seq(-4611686018427387904L, 0L, 4611686018427387903L).toDF("v")
    val big = Scale.columnHistogram(ns, "v", buckets = 16)
      .orderBy("bucket").collect()
    assert(big.map(_.getAs[Long]("cnt")).sum == 3L)
    assert(big.head.getAs[Long]("lo") == -4611686018427387904L)
  }

  test("fixedBinHistogram: hand-computed bins, open ends, empties, slice-merge property") {
    import graft.functions.Scale
    val vals = Seq(-5L, 3L, 10L, 15L, 99L).toDF("v")
    val out = Scale.fixedBinHistogram(vals, "v", Seq(0L, 10L, 50L))
      .orderBy("bin").collect()
    assert(out.length == 4)
    // bins: (-inf,0) [0,10) [10,50) [50,inf)
    assert(out.map(_.getAs[Long]("cnt")).toSeq == Seq(1L, 1L, 2L, 1L))
    assert(out(0).isNullAt(out(0).fieldIndex("lo")) &&
      out(0).getAs[Long]("hi") == 0L)
    assert(out(3).getAs[Long]("lo") == 50L &&
      out(3).isNullAt(out(3).fieldIndex("hi")))
    assert(out.map(_.getAs[Long]("share_ppm")).sum == 1000000L)
    // MERGE property (the reason this face exists): per-bin counts of two
    // slices add to the whole — fixed bins never re-bin
    val a = Seq(-5L, 3L).toDF("v"); val b = Seq(10L, 15L, 99L).toDF("v")
    def counts(d: org.apache.spark.sql.DataFrame) =
      Scale.fixedBinHistogram(d, "v", Seq(0L, 10L, 50L))
        .collect().map(r => r.getAs[Long]("bin") -> r.getAs[Long]("cnt")).toMap
    val merged = (counts(a).keySet ++ counts(b).keySet).map(k =>
      k -> (counts(a).getOrElse(k, 0L) + counts(b).getOrElse(k, 0L))).toMap
    assert(merged == counts(vals))
    // boundaries must be strictly ascending
    intercept[IllegalArgumentException] {
      Scale.fixedBinHistogram(vals, "v", Seq(10L, 10L))
    }
  }

  test("histogramDrift: hand-computed per-bin deltas and total variation; identical snapshots drift 0") {
    import graft.functions.Scale
    // a: 4 rows -> shares (0.25, 0.5, 0.25); b: 2 rows -> (0.5, 0.5, 0)
    // deltas ppm: -250000, 0, +250000 -> TV = 250000
    val a = Seq(-1L, 5L, 5L, 20L).toDF("v")
    val b = Seq(-3L, 7L).toDF("v")
    val out = Scale.histogramDrift(a, b, "v", Seq(0L, 10L))
      .orderBy("bin").collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Long]("cnt_a")).toSeq == Seq(1L, 2L, 1L))
    assert(out.map(_.getAs[Long]("cnt_b")).toSeq == Seq(1L, 1L, 0L))
    assert(out.map(_.getAs[Long]("delta_ppm")).toSeq ==
      Seq(-250000L, 0L, 250000L))
    assert(out.forall(_.getAs[Long]("tv_ppm") == 250000L))
    // no drift between identical snapshots
    val same = Scale.histogramDrift(a, a, "v", Seq(0L, 10L)).collect()
    assert(same.forall(r => r.getAs[Long]("tv_ppm") == 0L &&
      r.getAs[Long]("delta_ppm") == 0L))
  }

  test("selectivityAudit: exact actuals, uniform estimates, clamped probe, signed error") {
    import graft.functions.Scale
    // uniform 0..99 (100 rows): the uniform assumption is EXACT here
    val uni = (0L to 99L).toDF("v")
    val r1 = Scale.selectivityAudit(uni, "v", Seq((10L, 29L), (90L, 150L)))
      .orderBy("probe_lo").collect()
    assert(r1(0).getAs[Long]("actual") == 20L && r1(0).getAs[Long]("est") == 20L)
    assert(r1(0).getAs[Long]("err") == 0L && r1(0).getAs[Long]("abs_err_ppm") == 0L)
    // probe extends past max: overlap clamps to [90,99] -> est 10
    assert(r1(1).getAs[Long]("actual") == 10L && r1(1).getAs[Long]("est") == 10L)
    // skewed data: half the mass at 0, rest uniform 1..50 — the uniform
    // estimate misses badly on [0,0] and the signed error shows direction
    val skew = (Seq.fill(50)(0L) ++ (1L to 50L)).toDF("v")
    val r2 = Scale.selectivityAudit(skew, "v", Seq((0L, 0L), (1L, 50L)))
      .orderBy("probe_lo").collect()
    assert(r2(0).getAs[Long]("actual") == 50L)
    assert(r2(0).getAs[Long]("est") == 100L / 51L) // n*1 DIV 51 = 1
    assert(r2(0).getAs[Long]("err") == r2(0).getAs[Long]("est") - 50L) // underestimate -> negative
    assert(r2(1).getAs[Long]("actual") == 50L)
  }

  test("conjunctiveSelectivityAudit: hand-computed estimators, NDV correction + clamp, q-errors; joint-cell cap") {
    import graft.functions.Scale
    // a = b DIV 2 (perfect FD b->a, correction factor ndv_a*ndv_b/ndv_ab
    // = 3*4/4 = 3); pairs (0,0)x4 (0,1)x2 (1,2)x3 (2,5)x1, n = 10
    val rows = Seq.fill(4)((0L, 0L)) ++ Seq.fill(2)((0L, 1L)) ++
      Seq.fill(3)((1L, 2L)) ++ Seq((2L, 5L))
    val df = rows.toDF("a", "b")
    val out = Scale.conjunctiveSelectivityAudit(df, "a", "b",
        Seq((0L, 0L, 0L, 1L), (1L, 2L, 2L, 5L)), Seq(1L, 2L), Seq(2L, 4L))
      .orderBy("a_lo").collect()
    // probe 1 (a=[0,0], b=[0,1]): actual 6; uniform 3*3 DIV 10 = 0;
    // hist 6*6 DIV 10 = 3; corrected floor(3*3) = 9 clamped to
    // min(ea_h, eb_h) = 6 == actual
    val p1 = out(0)
    assert(p1.getAs[Long]("actual") == 6L)
    assert(p1.getAs[Long]("ndv_a") == 3L && p1.getAs[Long]("ndv_b") == 4L &&
      p1.getAs[Long]("ndv_ab") == 4L)
    assert(p1.getAs[Long]("est_indep_uniform") == 0L)
    assert(p1.getAs[Long]("est_indep_hist") == 3L)
    assert(p1.getAs[Long]("est_corrected") == 6L)
    assert(p1.getAs[Long]("qerr_uniform_ppm") == 6000000L) // est 0 -> den 1
    assert(p1.getAs[Long]("qerr_hist_ppm") == 2000000L)
    assert(p1.getAs[Long]("qerr_corrected_ppm") == 1000000L)
    // probe 2 (a=[1,2], b=[2,5]): actual 4; hist 4*4 DIV 10 = 1;
    // corrected 1*3 = 3 (below the clamp min(4,4))
    val p2 = out(1)
    assert(p2.getAs[Long]("actual") == 4L)
    assert(p2.getAs[Long]("est_indep_uniform") == 3L)
    assert(p2.getAs[Long]("est_indep_hist") == 1L)
    assert(p2.getAs[Long]("est_corrected") == 3L)
    assert(p2.getAs[Long]("qerr_corrected_ppm") == 1333333L)
    // scoreboard: lower median over 2 probes picks the smaller qerr
    val sb = Scale.qErrorScoreboard(
        Scale.conjunctiveSelectivityAudit(df, "a", "b",
          Seq((0L, 0L, 0L, 1L), (1L, 2L, 2L, 5L)), Seq(1L, 2L), Seq(2L, 4L)),
        Seq(("corrected", "qerr_corrected_ppm"), ("hist", "qerr_hist_ppm"),
          ("uniform", "qerr_uniform_ppm")))
      .collect().map(r => r.getAs[String]("estimator") -> r).toMap
    assert(sb("corrected").getAs[Long]("p50_qerr_ppm") == 1000000L)
    assert(sb("corrected").getAs[Long]("max_qerr_ppm") == 1333333L)
    assert(sb("corrected").getAs[Long]("n_within_2x") == 2L)
    assert(sb("hist").getAs[Long]("n_within_2x") == 1L)
    assert(sb("uniform").getAs[Long]("p50_qerr_ppm") == 1333333L)
    assert(sb("uniform").getAs[Long]("n_within_2x") == 1L)
    // the q190 discipline is enforced: a joint table past the cap fails
    // loudly before any downstream work
    val e = intercept[IllegalArgumentException] {
      Scale.conjunctiveSelectivityAudit(df, "a", "b",
        Seq((0L, 0L, 0L, 1L)), Seq(1L), Seq(1L), maxJointCells = 2L)
    }
    assert(e.getMessage.contains("joint cells"))
    // the ladder's top rung: the 2D JOINT histogram — both probes here
    // are cell-boundary-aligned on each axis, so the estimate is EXACT
    // (the 2D extension of q202's aligned-probe identity); cell (a0,b0)
    // holds 6, (a1,b1) 3, (a2,b2) 1, all cross cells 0
    val jout = Scale.conjunctiveJointHistAudit(df, "a", "b",
        Seq((0L, 0L, 0L, 1L), (1L, 2L, 2L, 5L)), Seq(1L, 2L), Seq(2L, 4L))
      .orderBy("a_lo").collect()
    assert(jout(0).getAs[Long]("actual") == 6L &&
      jout(0).getAs[Long]("est_joint") == 6L &&
      jout(0).getAs[Long]("qerr_joint_ppm") == 1000000L)
    assert(jout(1).getAs[Long]("actual") == 4L &&
      jout(1).getAs[Long]("est_joint") == 4L)
    // a straddling probe interpolates: a=[0,1], b=[1,3] hits (a0,b0)
    // with ovB 1 of w 2 -> 3, and (a1,b1) with ovB 2 of w 2 -> 3;
    // actual = 2 (the (0,1) pairs) + 3 (the (1,2) pairs) = 5
    val straddle = Scale.conjunctiveJointHistAudit(df, "a", "b",
        Seq((0L, 1L, 1L, 3L)), Seq(1L, 2L), Seq(2L, 4L)).collect()(0)
    assert(straddle.getAs[Long]("actual") == 5L &&
      straddle.getAs[Long]("est_joint") == 6L)
  }

  test("unigramConcentration: hand-computed Simpson index and effective vocabulary") {
    import graft.functions.Text
    // A: "x x x y" twice -> counts x=6, y=2, n=8, c2=40
    //    simpson = 40e6 DIV 64 = 625000; eff_vocab = 64 DIV 40 = 1
    // B: 8 distinct words -> c2 = 8, simpson = 8e6 DIV 64 = 125000, eff 8
    val docs = Seq(
      ("A", "x x x y"), ("A", "x x x y"),
      ("B", "a b c d"), ("B", "e f g h"))
      .toDF("source", "text")
    val out = Text.unigramConcentration(docs, "source", "text")
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("n_tokens") == 8L && a.getAs[Long]("vocab") == 2L)
    assert(a.getAs[Long]("simpson_ppm") == 625000L)
    assert(a.getAs[Long]("eff_vocab") == 1L)
    val b = out("B")
    assert(b.getAs[Long]("n_tokens") == 8L && b.getAs[Long]("vocab") == 8L)
    assert(b.getAs[Long]("simpson_ppm") == 125000L)
    assert(b.getAs[Long]("eff_vocab") == 8L)
    // the quality ordering the metric exists for: templated < diverse
    assert(a.getAs[Long]("eff_vocab") < b.getAs[Long]("eff_vocab"))
  }
}
