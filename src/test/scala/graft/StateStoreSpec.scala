package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{functions => F, Encoders}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StateStoreRunner

/** transformWithState path: executor-local keyed state (RocksDB store) —
  * value-generic folds, ListState/MapState handles, event-time timers, and
  * the kill/restart replay that proves the checkpoint-version exactly-once
  * argument (StateStoreRunner scaladoc) holds in practice. */
class StateStoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .getOrCreate()

  test("running count per key is maintained in the state store across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    input.addData("the", "man", "the")

    val counts = StateStoreRunner.runningCount[String, String](
      input.toDS().flatMap(_.split(" ")), identity)
    val q = counts.writeStream.outputMode("update")
      .format("memory").queryName("twscounts")
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    q.processAllAvailable()
    input.addData("the moon")
    q.processAllAvailable()
    q.stop()

    // latest emission per key = the running total
    val latest = spark.table("twscounts").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(latest("the") == 3L)
    assert(latest("man") == 1L)
    assert(latest("moon") == 1L)
  }

  test("withStateConfig: statePartitions takes effect at first start, rides the checkpoint across restart (VERDICT r13 #4)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ck = java.nio.file.Files.createTempDirectory("state-parts-ck").toString
    // transformWithState state lands under ck/state/<operator>/<partition>
    def statePartDirs(): Seq[String] = {
      val d = new java.io.File(s"$ck/state/0")
      Option(d.listFiles()).map(_.filter(_.isDirectory).map(_.getName)
        .filter(_.forall(_.isDigit)).sorted.toSeq).getOrElse(Nil)
    }
    val input = MemoryStream[String]
    // foreachBatch sink: the memory sink cannot RESUME from a checkpoint,
    // and the restart leg is the point of this spec
    def runOnce(): Map[String, Long] = {
      val got = new java.util.concurrent.ConcurrentHashMap[String, Long]()
      val counts = StateStoreRunner.runningCount[String, String](input.toDS(), identity)
      val q = counts.writeStream.outputMode("update")
        .option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Long)], _: Long) =>
          b.collect().foreach { case (k, v) => got.put(k, v) }; ()
        }
        .trigger(Trigger.ProcessingTime(0L)).start()
      try {
        q.processAllAvailable()
        import scala.jdk.CollectionConverters._
        got.asScala.toMap
      } finally q.stop()
    }
    try {
      // session conf says 2 (suite default); the knob pins 5 at FIRST start
      input.addData("a", "b", "a")
      val first = StateStoreRunner.withStateConfig(spark, statePartitions = 5) {
        runOnce()
      }
      assert(first == Map("a" -> 2L, "b" -> 1L))
      assert(statePartDirs().size == 5, s"state dirs: ${statePartDirs()}")
      // both confs restored after the scope
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
      // restart from the same checkpoint WITHOUT the knob (session conf 2):
      // the frozen partition count wins and the running state is intact
      input.addData("a", "c")
      val second = runOnce()
      assert(second("a") == 3L && second("c") == 1L)
      assert(statePartDirs().size == 5, s"state dirs after restart: ${statePartDirs()}")
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(ck))
  }

  test("checkpoint writes: a runningCount checkpoint resumes across Spark's default manager and LocalCheckpointFileManager both ways; no Hadoop sidecars under the engine's") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    implicit val sqlCtx = spark.sqlContext
    val fmKey = graft.util.LocalCheckpointFileManager.ConfKey
    def sidecars(dir: java.nio.file.Path): Set[String] =
      if (!java.nio.file.Files.isDirectory(dir)) Set.empty
      else {
        val s = java.nio.file.Files.walk(dir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith(".") && n.endsWith(".crc")).toSet
        finally s.close()
      }
    for (localFirst <- Seq(false, true)) TempDirs.withTempDir("graft-fm-compat") { dir =>
      val ck = dir.toString
      val input = MemoryStream[String]
      // one leg = one query run from the shared checkpoint; returns the
      // leg's update-mode emissions and the batch ids it committed
      def leg(local: Boolean): (Map[String, Long], Seq[Long]) = {
        val got = new java.util.concurrent.ConcurrentHashMap[String, Long]()
        val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        def start() = StateStoreRunner.runningCount[String, String](input.toDS(), identity)
          .writeStream.outputMode("update")
          .option("checkpointLocation", ck)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Long)], id: Long) =>
            b.collect().foreach { case (k, v) => got.put(k, v) }; ids.add(id); ()
          }
          .trigger(Trigger.ProcessingTime(0L)).start()
        val q =
          if (local) StateStoreRunner.withStateConfig(spark, statePartitions = 2)(start())
          else start()
        try q.processAllAvailable() finally q.stop()
        assert(spark.conf.getOption(fmKey).isEmpty, "manager conf leaked past the scope")
        (got.asScala.toMap, ids.asScala.toSeq)
      }
      input.addData("a", "b", "a")
      val (first, ids1) = leg(localFirst)
      input.addData("a", "c")
      val (second, ids2) = leg(!localFirst)
      assert(first == Map("a" -> 2L, "b" -> 1L), s"localFirst=$localFirst")
      assert(second == Map("a" -> 3L, "c" -> 1L), s"localFirst=$localFirst")
      // a reader from a session without the manager conf sees the same state
      val state = graft.drpc.LiveStateDrpc.stateAtLastCommit(spark, ck, "agg")
        .select(F.col("key.value"), F.col("value.value")).as[(String, Long)]
        .collect().toMap
      assert(state == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
      // the engine's legs wrote no Hadoop sidecar; Spark's default did,
      // which shows the check would catch a fall back to Hadoop's writes
      val localIds = if (localFirst) ids1 else ids2
      val defaultIds = if (localFirst) ids2 else ids1
      for (log <- Seq("offsets", "commits")) {
        val crcs = sidecars(dir.resolve(log))
        assert(localIds.forall(i => !crcs(s".$i.crc")), s"$log sidecars: $crcs")
        assert(defaultIds.forall(i => crcs(s".$i.crc")), s"$log sidecars: $crcs")
      }
    }
  }

  test("checkpoint writes: StreamRunner.persistFiles leaves no Hadoop sidecars in offsets/ or commits/") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    TempDirs.withTempDir("graft-fm-runner") { dir =>
      val input = MemoryStream[Long]
      input.addData(1L, 2L)
      val q = graft.streaming.StreamRunner.persistFiles(
        input.toDS().toDF("n"), dir.toString, "fm-runner", Trigger.ProcessingTime(0L))
      try {
        q.processAllAvailable()
        input.addData(3L)
        q.processAllAvailable()
      } finally q.stop()
      for (log <- Seq("offsets", "commits")) {
        val d = dir.resolve("_checkpoint").resolve(log).toFile
        val files = d.list().toSeq
        assert(files.count(_.forall(_.isDigit)) >= 2, s"$log: $files")
        assert(!files.exists(_.endsWith(".crc")), s"$log: $files")
      }
    }
  }

  test("incremental dup clusters: DELTA emissions (endpoints + root-change records) resolve to batch duplicateClusters over >=3 batches; replay idempotent (VERDICT r13 #3 / r14 #1)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.streaming.IncrementalClusters.clearInMemory("spec-inc")
    val inc = graft.streaming.IncrementalClusters.inMemory("spec-inc")
    // batch 1: {2,7,9} and {20,21}; batch 2: new {5,6}, and 1 joins the
    // first component (new min label — the losing root 2 emits a root-change
    // record; its untouched members 7,9 do NOT re-emit); batch 3: a
    // CROSS-BATCH merge (6–9 bridges {5,6} into {1,2,7,9}) plus a fresh
    // {10,11} and an internal no-op edge (20,21)
    val batches = Seq(
      Seq((2L, 7L), (7L, 9L), (20L, 21L)),
      Seq((5L, 6L), (1L, 2L)),
      Seq((6L, 9L), (10L, 11L), (20L, 21L)))
    val input = MemoryStream[(Long, Long)]
    val emissions = scala.collection.mutable.Buffer.empty[(Long, Map[Long, Long])]
    val q = input.toDF().toDF("a", "b").writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val out = inc.applyBatch(b, "a", "b", id)
          .as[(Long, Long)].collect().toMap
        emissions.synchronized { emissions += ((id, out)) }; ()
      }
      .trigger(Trigger.ProcessingTime(0L)).start()
    try {
      batches.foreach { bt => input.addData(bt: _*); q.processAllAvailable() }
      val byBatch = emissions.sortBy(_._1).map(_._2)
      // batch 2: endpoints {5,6,1,2} under new labels + the (2 -> 1)
      // root-change record (same row as endpoint 2's) — NOT the losing
      // component's untouched members 7,9 (the delta contract)
      assert(byBatch(1) == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L),
        s"batch-2 emission: ${byBatch(1)}")
      // batch 3: endpoints {6,9,10,11,20,21} + root-change (5 -> 1); the
      // merged component's other members (1,2,7) do not re-emit
      assert(byBatch(2) == Map(5L -> 1L, 6L -> 1L, 9L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L),
        s"batch-3 emission: ${byBatch(2)}")
      // parity: the state snapshot == batch duplicateClusters over the
      // union of all arrivals
      val all = batches.flatten.toDF("a", "b")
      val expect = graft.functions.Dedup.duplicateClusters(all, "a", "b")
        .as[(Long, Long)].collect().toMap
      val got = inc.snapshot(spark).as[(Long, Long)].collect().toMap
      assert(got == expect, s"snapshot $got != batch $expect")
      // downstream-consumer view: a sink holding last-emitted labels
      // recovers the final labeling by resolving transitively through the
      // root-change records (every old label is a former root, and every
      // root change was emitted) — the delta contract's sufficiency proof
      val lastEmitted = byBatch.flatten.toMap // later batches overwrite
      def consumerResolve(id: Long): Long = {
        var x = lastEmitted(id)
        while (lastEmitted.getOrElse(x, x) != x) x = lastEmitted(x)
        x
      }
      assert(expect.keys.forall(id => consumerResolve(id) == expect(id)),
        s"consumer-resolved labels diverge: " +
          expect.keys.map(i => i -> consumerResolve(i)).toMap + s" vs $expect")
      // replay of the LAST batch (txid 2): the journal re-emits its
      // original root-change record (5 -> 1) — a crash that landed the
      // state writes but lost the output must not strand consumers on
      // the dead label 5 — so the replay output == the original output
      val replayLast = inc.applyBatch(batches(2).toDF("a", "b"), "a", "b", 2L)
        .as[(Long, Long)].collect().toMap
      assert(replayLast == byBatch(2), s"last-batch replay: $replayLast")
      // replay of an OLDER batch (txid 1, journal already at 2): state
      // unchanged, emits its ENDPOINTS under current labels, no stale
      // journal overwrite
      val replay = inc.applyBatch(batches(1).toDF("a", "b"), "a", "b", 1L)
        .as[(Long, Long)].collect().toMap
      assert(replay == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L),
        s"replay emission: $replay")
      assert(inc.snapshot(spark).as[(Long, Long)].collect().toMap == expect)
      // and the journal still answers for the last batch after the stale
      // replay (no backwards overwrite)
      val replayLast2 = inc.applyBatch(batches(2).toDF("a", "b"), "a", "b", 2L)
        .as[(Long, Long)].collect().toMap
      assert(replayLast2 == byBatch(2), s"last-batch replay 2: $replayLast2")
    } finally {
      q.stop()
      graft.streaming.IncrementalClusters.clearInMemory("spec-inc")
    }
  }

  test("incremental dup clusters, scored tier: emissions carry the running best representative; merge that changes the winner == batch keepBestOfClusters (VERDICT r14 #4)") {
    import spark.implicits._
    graft.streaming.IncrementalClusters.clearInMemory("spec-best")
    val inc = graft.streaming.IncrementalClusters.inMemory("spec-best")
    // quality = n_chars; batch 1 forms {2,7} (best 7, q=50) and {20,21}
    // (best 20, q=9 ties resolve to LOWEST id); batch 2 merges 1 (q=80)
    // into {2,7} — the merge CHANGES the winner to 1; batch 3's internal
    // edge re-emits with the winner carried, no state writes
    val quality = Map(1L -> 80.0, 2L -> 10.0, 7L -> 50.0, 20L -> 9.0, 21L -> 9.0)
    def withQ(pairs: Seq[(Long, Long)]) =
      pairs.map { case (a, b) => (a, b, quality(a), quality(b)) }
        .toDF("a", "b", "qa", "qb")
    val e1 = inc.applyBatchScored(withQ(Seq((2L, 7L), (20L, 21L))),
      "a", "b", "qa", "qb", 0L)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(e1 == Set((2L, 2L, 7L, 50.0), (7L, 2L, 7L, 50.0),
      (20L, 20L, 20L, 9.0), (21L, 20L, 20L, 9.0)), s"batch-1: $e1")
    val e2 = inc.applyBatchScored(withQ(Seq((1L, 2L))), "a", "b", "qa", "qb", 1L)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(e2 == Set((1L, 1L, 1L, 80.0), (2L, 1L, 1L, 80.0)), s"batch-2: $e2")
    // batch 3: an edge INTERNAL to the merged component — re-emits its
    // endpoints with the CARRIED winner (no new winner; the only state
    // write is the lazy compression of 7's chain through the lost root 2)
    val e3 = inc.applyBatchScored(withQ(Seq((2L, 7L))), "a", "b", "qa", "qb", 2L)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(e3 == Set((2L, 1L, 1L, 80.0), (7L, 1L, 1L, 80.0)), s"batch-3: $e3")
    // parity with the batch face: keepBestOfClusters keeps exactly the
    // best snapshot's winners (plus unclustered docs)
    val docs = quality.toSeq.map { case (id, qv) => (id, qv) }
      .toDF("doc_id", "n_chars")
    val clusters = inc.snapshot(spark)
    val kept = graft.functions.Dedup.keepBestOfClusters(
        docs, "doc_id", clusters, "id", "cluster_id", "n_chars")
      .select("doc_id").as[Long].collect().toSet
    val bestIds = inc.bestSnapshot(spark)
      .select("best_id").as[Long].collect().toSet
    assert(bestIds == Set(1L, 20L), s"bestSnapshot winners: $bestIds")
    assert(kept == bestIds, s"batch face kept $kept vs streaming $bestIds")
    graft.streaming.IncrementalClusters.clearInMemory("spec-best")
  }

  test("incremental dup clusters on the BOUNDED-HEAP disk tier (r16): labels == durable tier, restart parity, runs merge, best GC + compactState") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("inc-disk").toString
    try {
      // tiny flushAfterKeys forces real LSM behavior (flushes + merges)
      val inc1 = graft.streaming.IncrementalClusters.durable(dir,
        flushAfterKeys = 4)
      inc1.applyBatchScored(
        Seq((2L, 7L, 10.0, 50.0), (7L, 9L, 50.0, 5.0))
          .toDF("a", "b", "qa", "qb"), "a", "b", "qa", "qb", 0L)
      inc1.applyBatchScored(
        Seq((5L, 6L, 1.0, 2.0)).toDF("a", "b", "qa", "qb"),
        "a", "b", "qa", "qb", 1L)
      graft.streaming.IncrementalClusters.closeDurable(dir)
      // restart: same labels from disk
      val inc2 = graft.streaming.IncrementalClusters.durable(dir,
        flushAfterKeys = 4)
      assert(inc2.snapshot(spark).as[(Long, Long)].collect().toMap ==
        Map(2L -> 2L, 7L -> 2L, 9L -> 2L, 5L -> 5L, 6L -> 5L))
      // cross-restart merge; quality tier follows the winner
      val out = inc2.applyBatchScored(
        Seq((6L, 9L, 2.0, 5.0), (1L, 2L, 80.0, 10.0))
          .toDF("a", "b", "qa", "qb"), "a", "b", "qa", "qb", 2L)
        .select("id", "cluster_id").as[(Long, Long)].collect().toMap
      assert(out == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 9L -> 1L),
        s"cross-restart merge emission: $out")
      val expect = graft.functions.Dedup.duplicateClusters(
        Seq((2L, 7L), (7L, 9L), (5L, 6L), (6L, 9L), (1L, 2L)).toDF("a", "b"),
        "a", "b").as[(Long, Long)].collect().toMap
      assert(inc2.snapshot(spark).as[(Long, Long)].collect().toMap == expect)
      // best: single component rooted at 1, winner = (80.0, 1)
      val bests = inc2.bestSnapshot(spark)
        .as[(Long, Long, Double)].collect().toSet
      assert(bests == Set((1L, 1L, 80.0)), s"disk bests: $bests")
      // dead best entries of absorbed roots were GC'd by the fold (r16):
      // only the live root's entry remains in the store
      val bestKeys = inc2.best.get.scanAll().map(_._1).toSet
      assert(bestKeys == Set(Seq(1L)), s"dead best entries not GC'd: $bestKeys")
      // distributed faces == driver faces (read the on-disk runs + WAL)
      val distLabels = graft.streaming.IncrementalClusters
        .snapshotDistributed(spark, dir).as[(Long, Long)].collect().toMap
      assert(distLabels == expect, s"distributed disk labels: $distLabels")
      // compactState folds chains: every stored link points at its root
      inc2.compactState(100L)
      val roots = expect.values.toSet
      inc2.parents.scanAll().foreach { case (k, v) =>
        assert(roots.contains(v.asInstanceOf[Long]),
          s"link $k -> $v not folded to a root")
      }
      assert(inc2.snapshot(spark).as[(Long, Long)].collect().toMap == expect)
      assert(graft.streaming.IncrementalClusters
        .snapshotDistributed(spark, dir)
        .as[(Long, Long)].collect().toMap == expect)
    } finally {
      graft.streaming.IncrementalClusters.closeDurable(dir)
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("distributed snapshot faces (r16): snapshotDistributed/bestSnapshotDistributed == driver faces on the parquet durable tier, incl. after compactState") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("inc-dist").toString
    try {
      val inc = graft.streaming.IncrementalClusters.durable(dir)
      inc.applyBatchScored(
        Seq((2L, 7L, 10.0, 50.0), (20L, 21L, 9.0, 3.0))
          .toDF("a", "b", "qa", "qb"), "a", "b", "qa", "qb", 0L)
      inc.applyBatchScored(
        Seq((1L, 2L, 80.0, 10.0)).toDF("a", "b", "qa", "qb"),
        "a", "b", "qa", "qb", 1L)
      val driverLabels = inc.snapshot(spark).as[(Long, Long)].collect().toMap
      val distLabels = graft.streaming.IncrementalClusters
        .snapshotDistributed(spark, dir).as[(Long, Long)].collect().toMap
      assert(distLabels == driverLabels,
        s"distributed $distLabels != driver $driverLabels")
      val driverBest = inc.bestSnapshot(spark)
        .as[(Long, Long, Double)].collect().toSet
      val distBest = graft.streaming.IncrementalClusters
        .bestSnapshotDistributed(spark, dir)
        .as[(Long, Long, Double)].collect().toSet
      assert(distBest == driverBest, s"distributed best $distBest != $driverBest")
      // chain folding must not change either face
      inc.compactState(100L)
      assert(graft.streaming.IncrementalClusters
        .snapshotDistributed(spark, dir)
        .as[(Long, Long)].collect().toMap == driverLabels)
      assert(graft.streaming.IncrementalClusters
        .bestSnapshotDistributed(spark, dir)
        .as[(Long, Long, Double)].collect().toSet == driverBest)
    } finally {
      graft.streaming.IncrementalClusters.closeDurable(dir)
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("incremental dup clusters on the DURABLE tier: labels survive a process restart, cross-restart merge matches batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("inc-durable").toString
    try {
      // session 1: two batches, then process exit
      val inc1 = graft.streaming.IncrementalClusters.durable(dir)
      inc1.applyBatch(Seq((2L, 7L), (7L, 9L)).toDF("a", "b"), "a", "b", 0L)
      inc1.applyBatch(Seq((5L, 6L)).toDF("a", "b"), "a", "b", 1L)
      graft.streaming.IncrementalClusters.closeDurable(dir)
      // session 2: replay from disk; a batch that merges ACROSS the restart
      val inc2 = graft.streaming.IncrementalClusters.durable(dir)
      assert(inc2.snapshot(spark).as[(Long, Long)].collect().toMap ==
        Map(2L -> 2L, 7L -> 2L, 9L -> 2L, 5L -> 5L, 6L -> 5L))
      val out = inc2.applyBatch(Seq((6L, 9L), (1L, 2L)).toDF("a", "b"),
        "a", "b", 2L).as[(Long, Long)].collect().toMap
      // delta contract: endpoints {6,9,1,2} + root-change (5 -> 1); the
      // untouched member 7 does not re-emit
      assert(out == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 9L -> 1L),
        s"cross-restart merge emission: $out")
      val expect = graft.functions.Dedup.duplicateClusters(
        Seq((2L, 7L), (7L, 9L), (5L, 6L), (6L, 9L), (1L, 2L)).toDF("a", "b"),
        "a", "b").as[(Long, Long)].collect().toMap
      assert(inc2.snapshot(spark).as[(Long, Long)].collect().toMap == expect)
    } finally {
      graft.streaming.IncrementalClusters.closeDurable(dir)
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("streaming KMV sketch: every emitted row equals the batch sketch over the arrivals so far") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val out = graft.functions.Scale.streamingKmvDistinct(
      input.toDS().toDF("g", "v"), "g", "v", k = 4)
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("kmvstream").trigger(Trigger.ProcessingTime(0L)).start()
    val batch1 = Seq(("big", "u1"), ("big", "u2"), ("big", "u3"), ("small", "a"))
    // batch 2 overlaps batch 1 (u2 again) and pushes "big" past k=4
    // distinct values, so the estimator path engages on the merged sketch
    val batch2 = Seq(("big", "u2"), ("big", "u4"), ("big", "u5"),
      ("big", "u6"), ("small", "a"), ("small", "b"))
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    def batchFace(rows: Seq[(String, String)]) =
      graft.functions.Scale.kmvDistinct(rows.toDF("g", "v"), "g", "v", k = 4)
        .as[(String, Long, Long, Long)].collect().toSet
    // update-mode emissions: after batch 1 each group carries the batch-1
    // sketch; after batch 2 the RE-MERGED sketch must equal the batch
    // face over the UNION — the lossless-merge identity, incrementally
    val expected = batchFace(batch1) ++ batchFace(batch1 ++ batch2)
    val got = spark.table("kmvstream").as[(String, Long, Long, Long)]
      .collect().toSet
    assert(got == expected, s"streaming sketch diverged:\ngot $got\nwant $expected")
  }

  test("streaming quantile sketch: every emitted row equals the batch estimate over the arrivals so far") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val qs = Seq(250000L, 500000L, 750000L)
    val out = graft.functions.Scale.streamingQuantileSketch(
      input.toDS().toDF("g", "id", "v"), "g", "id", "v", k = 6, qs)
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("qskstream").trigger(Trigger.ProcessingTime(0L)).start()
    // batch 2 overlaps batch 1 (id 3 again — identical pair collapses)
    // and pushes "big" past k=6 rows, so the bottom-k eviction engages
    // on the merged sample
    val batch1 = (1L to 5L).map(i => ("big", i, i * 100L)) :+ (("small", 1L, 7L))
    val batch2 = Seq(("big", 3L, 300L), ("big", 6L, 600L), ("big", 7L, 700L),
      ("big", 8L, 800L), ("small", 2L, 9L))
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    def batchFace(rows: Seq[(String, Long, Long)]) =
      graft.functions.Scale.quantileEstimate(
          graft.functions.Scale.quantileSketch(rows.toDF("g", "id", "v"),
            "g", "id", "v", k = 6), "g", qs)
        .as[(String, Long, Long, Long)].collect().toSet
    // update-mode emissions: after each batch the touched groups carry
    // exactly the batch face's estimates over the union of arrivals —
    // the lossless bottom-k merge identity, incrementally
    val expected = batchFace(batch1) ++ batchFace(batch1 ++ batch2)
    val got = spark.table("qskstream").as[(String, Long, Long, Long)]
      .collect().toSet
    assert(got == expected, s"streaming quantile sketch diverged:\ngot $got\nwant $expected")
  }

  test("streaming KS-vs-reference: each batch's distance equals the batch face on the running sample") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq(100L, 200L, 300L, 400L)
    val input = MemoryStream[(String, Long, Long)]
    val out = graft.functions.Scale.streamingKsAgainstReference(
      input.toDS().toDF("g", "id", "v"), "g", "id", "v", ref, k = 4)
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("ksref").trigger(Trigger.ProcessingTime(0L)).start()
    val b1 = Seq(("g", 1L, 110L), ("g", 2L, 210L))
    val b2 = Seq(("g", 3L, 900L), ("g", 4L, 950L), ("g", 5L, 980L))
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // brute reference per prefix: running bottom-4 sample (same md5
    // fold as the batch sketch) vs ref, integer-ppm CDF gaps
    def expect(rows: Seq[(String, Long, Long)]): (String, Long, Long, Long) = {
      val vs = rows.map { case (_, id, v) =>
        (java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString, v)
      }.distinct.sorted.take(4).map(_._2).sorted
      val u = (vs ++ ref).distinct.sorted
      val gaps = u.map(v => math.abs(
        vs.count(_ <= v).toLong * 1000000L / vs.size -
        ref.count(_ <= v).toLong * 1000000L / ref.size))
      ("g", vs.size.toLong, gaps.max, u(gaps.indexOf(gaps.max)))
    }
    val got = spark.table("ksref").as[(String, Long, Long, Long)].collect().toSet
    val want = Set(expect(b1), expect(b1 ++ b2))
    assert(got == want, s"streaming KS diverged:\ngot $got\nwant $want")
    // the second prefix's sample is dominated by 900-980 values the
    // reference never reaches — the alarm fires with a large distance
    assert(expect(b1 ++ b2)._3 >= 500000L)
  }

  test("streaming histogram shift: per-bin batch counts + running totals match the batch face per prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val bounds = Seq(10L, 20L)
    val out = graft.functions.Scale.streamingHistogramShift(
      input.toDS().toDF("v"), "v", bounds)
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("histshift").trigger(Trigger.ProcessingTime(0L)).start()
    val batch1 = Seq(5L, 15L, 15L, 25L)
    val batch2 = Seq(5L, 5L, 25L, 25L, 15L)
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    def bins(vs: Seq[Long]) =
      vs.groupBy(v => bounds.count(_ <= v).toLong).view.mapValues(_.size.toLong).toMap
    val h1 = bins(batch1); val h2 = bins(batch2); val hu = bins(batch1 ++ batch2)
    // update-mode: batch 1 emits (bin, cnt_b1, cnt_b1); batch 2 emits
    // (bin, cnt_b2, cnt_union) — the running totals ARE the fixed-bin
    // histogram over everything arrived, per prefix
    val expected =
      h1.map { case (b, n) => (b, n, n) }.toSet ++
      h2.map { case (b, n) => (b, n, hu(b)) }.toSet
    val got = spark.table("histshift").as[(Long, Long, Long)].collect().toSet
    assert(got == expected, s"histogram shift diverged:\ngot $got\nwant $expected")
  }

  /** TimeMode.ProcessingTime queries (the mode state TTL requires)
    * re-trigger no-data batches continuously, so `processAllAvailable`
    * never observes a quiescent point — poll the memory sink for the
    * expected emission count instead (update-mode sinks only grow when
    * real data arrives, so the counts are stable targets). */
  private def awaitCount(table: String, n: Long, timeoutMs: Long = 30000): Unit = {
    val t0 = System.currentTimeMillis
    while (spark.table(table).count() < n &&
           System.currentTimeMillis - t0 < timeoutMs) Thread.sleep(50)
    assert(spark.table(table).count() >= n,
      s"timed out waiting for $n rows in $table")
  }

  test("KMV TTL: idle group evicted past the horizon and re-admitted fresh; within-horizon state survives") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TTLConfig
    implicit val sqlCtx = spark.sqlContext
    def batchFace(rows: Seq[(String, String)]) =
      graft.functions.Scale.kmvDistinct(rows.toDF("g", "v"), "g", "v", k = 4)
        .as[(String, Long, Long, Long)].collect().toSet
    // eviction face: a 500ms TTL with a 2s idle gap between batches —
    // the group's sketch is gone, so the second emission equals the
    // batch face over BATCH 2 ALONE (re-admitted fresh), not the union
    val in1 = MemoryStream[(String, String)]
    val evicted = graft.functions.Scale.streamingKmvDistinct(
      in1.toDS().toDF("g", "v"), "g", "v", k = 4,
      ttl = TTLConfig(java.time.Duration.ofMillis(500)))
    val q1 = evicted.writeStream.outputMode("update").format("memory")
      .queryName("kmvttl").trigger(Trigger.ProcessingTime(100L)).start()
    val b1 = Seq(("g", "u1"), ("g", "u2"))
    val b2 = Seq(("g", "u3"))
    in1.addData(b1: _*)
    awaitCount("kmvttl", 1)
    Thread.sleep(2000) // > 4x the TTL: expiry is guaranteed, not racy
    in1.addData(b2: _*)
    awaitCount("kmvttl", 2)
    q1.stop()
    val got1 = spark.table("kmvttl").as[(String, Long, Long, Long)].collect().toSet
    assert(got1 == batchFace(b1) ++ batchFace(b2),
      s"expected fresh re-admission after TTL:\ngot $got1")
    // within-horizon face: a 1h TTL can't elapse mid-test — the merged
    // second emission equals the batch face over the UNION (parity holds
    // over the retained horizon, the documented contract)
    val in2 = MemoryStream[(String, String)]
    val kept = graft.functions.Scale.streamingKmvDistinct(
      in2.toDS().toDF("g", "v"), "g", "v", k = 4,
      ttl = TTLConfig(java.time.Duration.ofHours(1)))
    val q2 = kept.writeStream.outputMode("update").format("memory")
      .queryName("kmvttl2").trigger(Trigger.ProcessingTime(100L)).start()
    in2.addData(b1: _*)
    awaitCount("kmvttl2", 1)
    in2.addData(b2: _*)
    awaitCount("kmvttl2", 2)
    q2.stop()
    val got2 = spark.table("kmvttl2").as[(String, Long, Long, Long)].collect().toSet
    assert(got2 == batchFace(b1) ++ batchFace(b1 ++ b2),
      s"within-horizon merge diverged:\ngot $got2")
  }

  test("quantile sketch TTL: idle group's sample evicted past the horizon and re-admitted fresh") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TTLConfig
    implicit val sqlCtx = spark.sqlContext
    val qs = Seq(500000L)
    def batchFace(rows: Seq[(String, Long, Long)]) =
      graft.functions.Scale.quantileEstimate(
          graft.functions.Scale.quantileSketch(rows.toDF("g", "id", "v"),
            "g", "id", "v", k = 4), "g", qs)
        .as[(String, Long, Long, Long)].collect().toSet
    val input = MemoryStream[(String, Long, Long)]
    val out = graft.functions.Scale.streamingQuantileSketch(
      input.toDS().toDF("g", "id", "v"), "g", "id", "v", k = 4, qs,
      ttl = TTLConfig(java.time.Duration.ofMillis(500)))
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("qskttl").trigger(Trigger.ProcessingTime(100L)).start()
    val b1 = Seq(("g", 1L, 100L), ("g", 2L, 200L))
    val b2 = Seq(("g", 3L, 999L))
    input.addData(b1: _*)
    awaitCount("qskttl", 1)
    Thread.sleep(2000) // > 4x the TTL: expiry guaranteed, not racy
    input.addData(b2: _*)
    awaitCount("qskttl", 2)
    q.stop()
    // the sketch state is REWRITTEN on every touch (per-element ListState
    // TTL tracks group activity), and an idle group evicts whole: the
    // post-gap emission is the batch face over BATCH 2 ALONE
    val got = spark.table("qskttl").as[(String, Long, Long, Long)].collect().toSet
    assert(got == batchFace(b1) ++ batchFace(b2),
      s"expected fresh re-admission after TTL:\ngot $got")
  }

  test("runningCount TTL: idle key resets past the horizon (RotatingMap expiry discipline)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TTLConfig
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val counts = StateStoreRunner.runningCount[String, String](
      input.toDS().flatMap(_.split(" ")), identity,
      ttl = TTLConfig(java.time.Duration.ofMillis(500)))
    val q = counts.writeStream.outputMode("update").format("memory")
      .queryName("cntttl").trigger(Trigger.ProcessingTime(100L)).start()
    input.addData("a a b")
    awaitCount("cntttl", 2)
    Thread.sleep(2000)
    input.addData("a")
    awaitCount("cntttl", 3)
    q.stop()
    val emitted = spark.table("cntttl").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // batch 1 emitted a->2; after the idle gap the count RESTARTS at 1
    // (evicted + re-admitted), so the emission multiset is {2, 1}
    assert(emitted("a") == Seq(1L, 2L), s"a emissions: ${emitted("a")}")
    assert(emitted("b") == Seq(1L))
  }

  test("streaming fixed-bin histogram: running per-bin counts equal the batch face over arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val out = graft.functions.Scale.streamingFixedBinHistogram(
      input.toDS().toDF("v"), "v", Seq(0L, 10L, 50L))
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("fbhstream").trigger(Trigger.ProcessingTime(0L)).start()
    val b1 = Seq(-5L, 3L, 10L)
    val b2 = Seq(15L, 99L, 3L)
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // latest emission per bin = the running count; must equal the batch
    // face over b1 ++ b2 (fixed bins merge by plain addition)
    val got = spark.table("fbhstream").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val batch = graft.functions.Scale.fixedBinHistogram(
        (b1 ++ b2).toDF("v"), "v", Seq(0L, 10L, 50L))
      .where(F.col("cnt") > 0)
      .collect().map(r => r.getAs[Long]("bin") -> r.getAs[Long]("cnt")).toMap
    assert(got == batch, s"streaming histogram diverged:\ngot $got\nwant $batch")
  }

  test("streaming digest manifest: every emission equals the batch manifest over the arrivals so far") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = graft.functions.Scale.streamingDigestManifest(
      input.toDS().toDF("id", "s"), "id", Seq("id", "s"), shards = 2)
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("digeststream").trigger(Trigger.ProcessingTime(0L)).start()
    val batch1 = (1L to 20L).map(i => (i, s"v$i"))
    val batch2 = (21L to 35L).map(i => (i, s"w$i"))
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    def batchFace(rows: Seq[(Long, String)]) =
      graft.functions.Scale.digestManifest(rows.toDF("id", "s"), "id",
          Seq("id", "s"), shards = 2)
        .as[(Long, Long, Long, Long)].collect().toSet
    // update-mode emissions: after each batch the touched shards carry
    // exactly the batch manifest over everything arrived — the digest is
    // a plain sum, so incremental == batch by construction, proven here
    val expected = batchFace(batch1) ++ batchFace(batch1 ++ batch2)
    val got = spark.table("digeststream").as[(Long, Long, Long, Long)]
      .collect().toSet
    assert(got == expected, s"streaming digest diverged:\ngot $got\nwant $expected")
  }

  test("streaming lateness: per-arrival lateness equals the batch watermark-audit assignment") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, Long)]
    val out = graft.functions.Temporal.streamingLateness(
      input.toDS().toDF("ch", "arr", "ts"), "ch", "arr", "ts")
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("latestream").trigger(Trigger.ProcessingTime(0L)).start()
    // arrival keys a01..: batch 2 continues the arrival order of batch 1
    val batch1 = Seq(("A", "a01", 10L), ("A", "a02", 5L), ("A", "a03", 20L),
      ("B", "a01", 7L))
    val batch2 = Seq(("A", "a04", 19L), ("A", "a05", 30L), ("B", "a02", 3L))
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("latestream").as[(String, String, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // batch-face reference over ALL rows (single frame, same arrival order)
    val all = (batch1 ++ batch2).toDF("ch", "arr", "ts")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ch")
      .orderBy("arr").rowsBetween(Long.MinValue, 0)
    val ref = all.withColumn("late", F.max("ts").over(w) - F.col("ts"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("late")).toMap
    assert(got == ref, s"streaming lateness diverged:\ngot $got\nref $ref")
    // the A frontier survived the batch boundary: a04 is 1 behind a03's 20
    assert(got(("A", "a04")) == 1L)
  }

  test("streaming lateness: NUMERIC arrival keys fold in numeric order (9 before 10), matching the batch face") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val out = graft.functions.Temporal.streamingLateness(
      input.toDS().toDF("ch", "arr", "ts"), "ch", "arr", "ts")
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("latestream_num").trigger(Trigger.ProcessingTime(0L)).start()
    // arrivals 8..11 in ONE batch: lexicographic order would fold 10,11
    // BEFORE 8,9 ("10" < "8") and assign arrival 9 a lateness of 21
    // (behind 10's frontier 30) — numeric order assigns 11 (behind 8's
    // 20), which is what the batch face's natural orderBy computes
    val batch = Seq(("A", 8L, 20L), ("A", 9L, 9L), ("A", 10L, 30L),
      ("A", 11L, 25L))
    input.addData(batch: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("latestream_num").as[(String, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ch")
      .orderBy("arr").rowsBetween(Long.MinValue, 0)
    val ref = batch.toDF("ch", "arr", "ts")
      .withColumn("late", F.max("ts").over(w) - F.col("ts"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Long]("late")).toMap
    assert(got == ref, s"numeric-arrival lateness diverged:\ngot $got\nref $ref")
    assert(got(("A", 9L)) == 11L) // the lexicographic fold would say 21
  }

  test("streaming lateness: DATE arrival column folds without ANSI cast errors, matching the batch face") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // CAST(DATE AS BIGINT) throws DATATYPE_MISMATCH under ANSI —
    // streamingLateness must route DATE through unix_date instead
    val input = MemoryStream[(String, java.sql.Date, Long)]
    val out = graft.functions.Temporal.streamingLateness(
      input.toDS().toDF("ch", "arr", "ts"), "ch", "arr", "ts")
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("latestream_date").trigger(Trigger.ProcessingTime(0L)).start()
    def d(s: String) = java.sql.Date.valueOf(s)
    val batch = Seq(("A", d("2024-01-08"), 20L), ("A", d("2024-01-09"), 9L),
      ("A", d("2024-01-10"), 30L), ("A", d("2024-01-11"), 25L))
    input.addData(batch: _*)
    q.processAllAvailable()
    q.stop()
    // arrival emits as unix_date ticks (days since epoch)
    val got = spark.table("latestream_date").as[(String, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ch")
      .orderBy("arr").rowsBetween(Long.MinValue, 0)
    val ref = batch.toDF("ch", "arr", "ts")
      .withColumn("late", F.max("ts").over(w) - F.col("ts"))
      .select(F.col("ch"), F.unix_date(F.col("arr")).cast("long"), F.col("late"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Long]("late")).toMap
    assert(got == ref, s"date-arrival lateness diverged:\ngot $got\nref $ref")
    assert(got(("A", d("2024-01-09").toLocalDate.toEpochDay)) == 11L)
  }

  test("kill/restart replay: RocksDB word count survives and hash-matches the MapState path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.state._
    TempDirs.withTempDir("tws-restart") { ckDir =>
      val ck = ckDir.toString
      val input = MemoryStream[String]
      StateStoreSpec.restartSink.clear()
      def startQuery() =
        StateStoreRunner.runningCount[String, String](
            input.toDS().flatMap(_.split(" ")), identity)
          .writeStream.outputMode("update")
          .option("checkpointLocation", ck)   // memory sink can't recover; foreachBatch can
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[(String, Long)], _: Long) =>
            batch.collect().foreach { case (k, n) => StateStoreSpec.restartSink.put(k, n); () }
          }
          .trigger(Trigger.ProcessingTime(0L))
          .start()

      val q1 = startQuery()
      input.addData("the man said the word")
      q1.processAllAvailable()
      q1.stop()                       // kill mid-stream
      input.addData("the man on the moon")
      val q2 = startQuery()           // restart from the checkpoint
      q2.processAllAvailable()
      q2.stop()

      import scala.jdk.CollectionConverters._
      val storeCounts: Map[String, Long] = StateStoreSpec.restartSink.asScala.toMap
        .map { case (k, v) => k -> v.longValue() }

      // the SAME stream of words through the external-MapState tier
      // (StreamRunner.applyBatch with an OpaqueMap) must agree key-for-key
      MemoryBackingMap.clear("tws-vs-map")
      val map = new OpaqueMap[Long](new MemoryBackingMap[OpaqueValue[Long]]("tws-vs-map"))
      val words = "the man said the word the man on the moon".split(" ").toSeq.toDF("word")
      graft.streaming.StreamRunner.applyBatch[Long](words, 0L, graft.api.Fields("word"),
        F.count(F.lit(1)).as("cnt"), _ + _, map)
      val mapCounts = MemoryBackingMap.snapshot[OpaqueValue[Long]]("tws-vs-map")
        .map { case (k, v) => k.head.toString -> v.curr }
      assert(storeCounts == mapCounts)
      assert(storeCounts("the") == 4L)
    }
  }

  test("value-generic state: (count, max) tuple fold per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val folded = StateStoreRunner.runningCombine[String, (String, Double), (Long, Double)](
      input.toDS(), _._1,
      zero = (0L, Double.NegativeInfinity),
      init = r => (1L, r._2),
      combine = (a, b) => (a._1 + b._1, math.max(a._2, b._2)),
      stateEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    val q = folded.writeStream.outputMode("update")
      .format("memory").queryName("twsgeneric")
      .trigger(Trigger.ProcessingTime(0L)).start()
    input.addData(("a", 1.0), ("a", 5.0), ("b", 2.0))
    q.processAllAvailable()
    input.addData(("a", 3.0))
    q.processAllAvailable()
    q.stop()
    val latest = spark.table("twsgeneric").as[(String, (Long, Double))].collect()
      .groupBy(_._1).view.mapValues(_.maxBy(_._2._1)._2).toMap
    assert(latest("a") == ((3L, 5.0)))
    assert(latest("b") == ((1L, 2.0)))
  }

  test("ListState history handle keeps a bounded per-key event history") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val hist = StateStoreRunner.history[String, (String, String)](
      input.toDS(), _._1, maxLen = 3,
      valEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING))
    val q = hist.writeStream.outputMode("update")
      .format("memory").queryName("twshist")
      .trigger(Trigger.ProcessingTime(0L)).start()
    input.addData(("u1", "a"), ("u1", "b"))
    q.processAllAvailable()
    input.addData(("u1", "c"), ("u1", "d"))  // 4 events, cap 3 → oldest drops
    q.processAllAvailable()
    q.stop()
    val latest = spark.table("twshist").as[(String, Seq[(String, String)])].collect()
      .groupBy(_._1).view.mapValues(_.maxBy(_._2.size)._2).toMap
    assert(latest("u1").map(_._2) == Seq("b", "c", "d"))
  }

  test("MapState handle: per-key sub-keyed counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val counts = StateStoreRunner.subKeyCounts[String, String](
      input.toDS(), Encoders.STRING)
    val q = counts.writeStream.outputMode("update")
      .format("memory").queryName("twssub")
      .trigger(Trigger.ProcessingTime(0L)).start()
    input.addData(("u1", "click"), ("u1", "click"), ("u1", "view"), ("u2", "click"))
    q.processAllAvailable()
    input.addData(("u1", "click"))
    q.processAllAvailable()
    q.stop()
    val latest = spark.table("twssub").as[(String, String, Long)].collect()
      .groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).max).toMap
    assert(latest(("u1", "click")) == 3L)
    assert(latest(("u1", "view")) == 1L)
    assert(latest(("u2", "click")) == 1L)
  }

  test("event-time timers: idle keys emit a tick when the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(minute: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val ticks = StateStoreRunner.idleTicks[String](
      input.toDS().toDF("k", "ts")
        .withWatermark("ts", "0 seconds")
        .as[(String, java.sql.Timestamp)],
      idleMs = 5 * 60 * 1000L)
    val q = ticks.writeStream.outputMode("update")
      .format("memory").queryName("twsticks")
      .trigger(Trigger.ProcessingTime(0L)).start()
    input.addData(("a", ts(0)), ("a", ts(1)))
    q.processAllAvailable()
    input.addData(("b", ts(30)))   // watermark jumps past a's timer
    q.processAllAvailable()
    input.addData(("c", ts(31)))   // next batch fires the expired timer
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("twsticks").as[(String, String, Long)].collect().toSet
    assert(rows.contains(("a", "data", 2L)))
    assert(rows.contains(("a", "tick", 2L)))
  }
  test("streaming heavy hitters: MG bounds hold across batches, sketch state stays bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = 5
    val input = MemoryStream[(String, String)]
    val hh = graft.functions.Scale.streamingHeavyHitters(
      input.toDF().toDF("lang", "word"), "lang", "word", k)
    val q = hh.writeStream.outputMode("update")
      .format("memory").queryName("shh")
      .trigger(Trigger.ProcessingTime(0L)).start()
    // batch 1: 'hot' 30x + 20 singletons; batch 2: 'hot' 20x + 'warm' 15x
    // + 15 singletons — per-lang totals 50 and 50, union 100
    val singles1 = (1 to 20).map(i => ("en", s"s$i"))
    val singles2 = (21 to 35).map(i => ("en", s"s$i"))
    input.addData(Seq.fill(30)(("en", "hot")) ++ singles1: _*)
    q.processAllAvailable()
    input.addData(Seq.fill(20)(("en", "hot")) ++ Seq.fill(15)(("en", "warm")) ++ singles2: _*)
    q.processAllAvailable()
    q.stop()
    // latest emission per (lang, word)
    val rows = spark.table("shh").as[(String, String, Long, Long)].collect()
    val latest = rows.groupBy(r => (r._1, r._2)).view
      .mapValues(_.maxBy(_._4)).values.toVector
    val total = latest.map(_._4).max
    assert(total == 100L)
    val hot = latest.find(r => r._2 == "hot").get
    val warm = latest.find(r => r._2 == "warm")
    // guarantee: anything above total/k = 20 is present (hot: 50, warm: 15
    // is below the line so presence is not guaranteed — only checked if there)
    assert(hot._3 <= 50L && hot._3 >= 50L - total / k,
      s"hot count ${hot._3} outside MG bound")
    warm.foreach(w => assert(w._3 <= 15L))
    // the sketch never emits more than k items per key per batch
    rows.groupBy(r => (r._1, r._4)).foreach { case (_, g) =>
      assert(g.map(_._2).distinct.size <= k)
    }
  }

  test("streaming LSH candidates: cross-batch pairs, batch-face parity, cap stops pairing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dupA = "alpha beta gamma delta epsilon zeta"
    val dupB = "alpha beta gamma delta epsilon zeta eta"   // near-dup of dupA
    val other = "one two three four five six seven eight"  // unrelated
    val input = MemoryStream[(Long, String)]
    val cands = graft.functions.Dedup.streamingLshCandidates(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      k = 3, numHashes = 4, rowsPerBand = 2, maxBucketSize = 100)
    val q = cands.writeStream.outputMode("append")
      .format("memory").queryName("slsh")
      .trigger(Trigger.ProcessingTime(0L)).start()
    input.addData((1L, dupA), (2L, other))
    q.processAllAvailable()
    val afterB1 = spark.table("slsh").as[(Long, Long)].collect().toSet
    assert(afterB1.isEmpty) // nothing similar yet
    input.addData((3L, dupB))   // pairs with doc 1 ACROSS batches
    q.processAllAvailable()
    input.addData((4L, dupA))   // identical to 1: pairs with 1 and 3
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("slsh").as[(Long, Long)].collect().toSet
    assert(streamed.contains((1L, 3L)) && streamed.contains((1L, 4L)) &&
      streamed.contains((3L, 4L)))
    assert(!streamed.exists { case (a, b) => a == 2L || b == 2L })

    // parity: same corpus through the batch face yields the same pair set
    val corpus = Seq((1L, dupA), (2L, other), (3L, dupB), (4L, dupA))
      .toDF("doc_id", "text")
    val batch = graft.functions.Dedup.lshCandidatePairs(
        graft.functions.Dedup.lshBands(
          graft.functions.Dedup.minhashSignature(corpus, "text", 3, 4), 4, 2),
        "doc_id", bands = 2)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(streamed == batch)

    // cap: bucket of 2 stops pairing — a third member emits nothing new
    val capIn = MemoryStream[(Long, String)]
    val capped = graft.functions.Dedup.streamingLshCandidates(
      capIn.toDF().toDF("doc_id", "text"), "doc_id", "text",
      k = 3, numHashes = 4, rowsPerBand = 2, maxBucketSize = 2)
    val q2 = capped.writeStream.outputMode("append")
      .format("memory").queryName("slshcap")
      .trigger(Trigger.ProcessingTime(0L)).start()
    capIn.addData((1L, dupA), (2L, dupA))
    q2.processAllAvailable()
    capIn.addData((3L, dupA))
    q2.processAllAvailable()
    q2.stop()
    assert(spark.table("slshcap").as[(Long, Long)].collect().toSet ==
      Set((1L, 2L)))
  }

  test("streaming shard plan: offsets resume across batches and match the batch face in id order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)] // (doc_id, source, text)
    input.addData((1L, "A", "a b c"), (2L, "A", "d e f g"), (4L, "B", "j k"))

    val out = functions.Sampling.streamingShardPlan(
      input.toDF().toDF("doc_id", "source", "text"),
      "doc_id", "text", "source", targetTokens = 5L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("twsshards")
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    q.processAllAvailable()
    input.addData((3L, "A", "h i"))   // resumes A at offset 7
    q.processAllAvailable()
    q.stop()

    val got = spark.table("twsshards")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._2 -> ((r._1, r._3, r._4, r._5))).toMap
    assert(got(1L) == (("A", 3L, 0L, 0L)))
    assert(got(2L) == (("A", 4L, 3L, 0L)))
    assert(got(3L) == (("A", 2L, 7L, 1L)))   // cross-batch resume
    assert(got(4L) == (("B", 2L, 0L, 0L)))

    // batch-face parity on the same rows in id order
    val batch = functions.Sampling.shardPlan(
      Seq((1L, "A", "a b c"), (2L, "A", "d e f g"), (3L, "A", "h i"),
        (4L, "B", "j k")).toDF("doc_id", "source", "text"),
      "doc_id", "text", "source", targetTokens = 5L)
      .select($"doc_id", $"start_offset", $"shard_id")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    got.foreach { case (id, (_, _, off, sh)) =>
      assert(batch(id) == ((off, sh)), s"doc $id diverges from batch face")
    }
  }

  test("streaming shard plan kill/restart: offsets resume from the checkpoint, no gap or double-count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    TempDirs.withTempDir("tws-shard-restart") { ckDir =>
      val ck = ckDir.toString
      val input = MemoryStream[(Long, String, String)]
      val sink = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, (Long, Long)]()
      def startQuery() =
        functions.Sampling.streamingShardPlan(
            input.toDF().toDF("doc_id", "source", "text"),
            "doc_id", "text", "source", targetTokens = 5L)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ck)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.collect().foreach { r =>
              sink.put(r.getLong(1), (r.getLong(3), r.getLong(4))); () }
          }
          .trigger(Trigger.ProcessingTime(0L))
          .start()

      val q1 = startQuery()
      input.addData((1L, "A", "a b c"), (2L, "A", "d e f g")) // A ends at offset 7
      q1.processAllAvailable()
      q1.stop()                          // kill mid-stream
      input.addData((3L, "A", "h i"))    // must resume at 7, not 0
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()

      import scala.jdk.CollectionConverters._
      val got = sink.asScala.map { case (k, v) => k.longValue() -> v }.toMap
      assert(got == Map(1L -> ((0L, 0L)), 2L -> ((3L, 0L)), 3L -> ((7L, 1L))))
    }
  }

  test("streaming confusion monitor matches the batch binaryEval counts per slice") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Eval
    // (slice, score, label) — slice 'b' never produces a kept row
    val b1 = Seq(("a", 150L, true), ("a", 90L, true), ("a", 120L, false),
      ("b", 10L, false))
    val b2 = Seq(("a", 200L, false), ("b", 80L, true), ("b", 99L, false))
    val input = MemoryStream[(String, Long, Boolean)]
    input.addData(b1)

    val monitored = Eval.streamingConfusion(input.toDS(), threshold = 100L)
      .map { case (k, (tp, fp, fn, tn)) => (k, tp, fp, fn, tn) }
    val q = monitored.writeStream.outputMode("update")
      .format("memory").queryName("confmon")
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    q.processAllAvailable()
    input.addData(b2)
    q.processAllAvailable()
    q.stop()

    // latest emission per slice = the running confusion; must equal the
    // batch face evaluated over everything fed so far
    // (total processed rows strictly grows per batch, so the row with the
    // largest count sum is the latest state — collect order isn't pinned)
    val latest = spark.table("confmon")
      .as[(String, Long, Long, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.maxBy(r => r._2 + r._3 + r._4 + r._5)).toMap
    val batch = (b1 ++ b2).toDF("slice", "score", "label")
    for (slice <- Seq("a", "b")) {
      val r = Eval.binaryEval(batch.where($"slice" === slice),
        "score", "label", 100L).head()
      assert(latest(slice) == ((slice, r.getAs[Long]("tp"),
        r.getAs[Long]("fp"), r.getAs[Long]("fn"), r.getAs[Long]("tn"))),
        s"slice $slice drifted from the batch face")
    }
  }

  test("streaming privacy-gate monitor: running (size, diversity) per quasi group matches the batch k/l audits, incl. NULLs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Stats
    // (quasi, sensitive): group "a" grows to 4 rows / 1 value (k-anonymous
    // at k=3 but an l=1 homogeneity disclosure); "b" 3 rows / 2 values;
    // NULL quasi and NULL sensitive are legitimate values (trio contract)
    val b1 = Seq(("a", "s1"), ("a", "s1"), ("b", "s1"),
      (null.asInstanceOf[String], "s2"))
    val b2 = Seq(("a", "s1"), ("a", "s1"), ("b", "s2"), ("b", "s1"),
      ("c", null.asInstanceOf[String]))
    val input = MemoryStream[(String, String)]
    val mon = Stats.streamingPrivacyGate(
      input.toDS().toDF("q", "s"), Seq("q"), "s")
    val q = mon.writeStream.outputMode("update").format("memory")
      .queryName("privgate").trigger(Trigger.ProcessingTime(0L)).start()
    input.addData(b1: _*); q.processAllAvailable()
    // mid-stream check: per-batch violation counts are a filter over the
    // emissions — after batch 1 every group is below k=3
    val mid = spark.table("privgate").as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
    assert(mid.values.count(_._2 < 3L) == 3)
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // latest emission per group (n_rows grows monotonically) must equal
    // the batch audits' class assignment over everything fed
    val latest = spark.table("privgate").as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
    val batch = (b1 ++ b2).toDF("q", "s")
    // k-anonymity classes (k=3): stream states folded into (class ->
    // (n_groups, n_rows)) must match kAnonymityAudit rows
    val kClasses = latest.values
      .groupBy { case (_, n, _) => math.min(n, 3L) }.view
      .mapValues(v => (v.size.toLong, v.map(_._2).sum)).toMap
    val kBatch = Stats.kAnonymityAudit(batch, Seq("q"), k = 3).collect()
      .map(r => r.getAs[Long]("size_class") ->
        ((r.getAs[Long]("n_groups"), r.getAs[Long]("n_rows")))).toMap
    assert(kClasses == kBatch)
    // l-diversity classes (l=2) from the streamed ndv_sensitive
    val lClasses = latest.values
      .groupBy { case (_, _, d) => math.min(d, 2L) }.view
      .mapValues(v => (v.size.toLong, v.map(_._2).sum)).toMap
    val lBatch = Stats.lDiversityAudit(batch, Seq("q"), "s", l = 2).collect()
      .map(r => r.getAs[Long]("diversity_class") ->
        ((r.getAs[Long]("n_groups"), r.getAs[Long]("n_rows")))).toMap
    assert(lClasses == lBatch)
    // spot values: "a" is 4 rows 1 value (the homogeneity leak), NULL
    // quasi survived as its own group
    assert(latest.exists { case (_, (_, n, d)) => n == 4L && d == 1L })
    assert(latest.size == 4)
  }

  test("streaming DP release: per-batch noisy running counts replay exactly; fresh noise per release") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Stats
    val input = MemoryStream[String]
    val rel = Stats.streamingDpRelease(input.toDS().toDF("g"), Seq("g"), seed = 77L)
    val q = rel.writeStream.outputMode("update").format("memory")
      .queryName("dprel").trigger(Trigger.ProcessingTime(0L)).start()
    input.addData("x", "x", "x", "y"); q.processAllAvailable()
    input.addData("x", "x"); q.processAllAvailable()
    q.stop()
    val got = spark.table("dprel").as[(String, Long, Long)].collect().toSet
    // independent replay: same thresholds (BigInt spelling), same md5
    // uniform over key + U+0001 + "seed:idx"
    val two60 = BigInt(1) << 60
    val ts = DpReplay.thresholds
    def noise(key: String, idx: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$key\u000177:$idx".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val u = java.lang.Long.parseLong(md.take(15), 16)
      ts.count(_ <= u).toLong - 32L
    }
    val expected = Set(
      ("x", 1L, math.max(3L + noise("x", 1L), 0L)),
      ("y", 1L, math.max(1L + noise("y", 1L), 0L)),
      ("x", 2L, math.max(5L + noise("x", 2L), 0L)))
    assert(got == expected)
  }

  test("streaming DP histogram release: every public bin releases per touched key, running counts + fresh per-(release, bin) noise replay exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Stats
    val input = MemoryStream[(String, Long)]
    // boundaries [0, 10] -> public bins 0 (<0), 1 ([0,10)), 2 (>=10)
    val rel = Stats.streamingDpHistogram(input.toDS().toDF("g", "v"),
      Seq("g"), "v", boundaries = Seq(0L, 10L), seed = 9L)
    val q = rel.writeStream.outputMode("update").format("memory")
      .queryName("dphist").trigger(Trigger.ProcessingTime(0L)).start()
    input.addData(("x", 3L), ("x", 15L), ("y", -2L)); q.processAllAvailable()
    input.addData(("x", 4L)); q.processAllAvailable()
    q.stop()
    val got = spark.table("dphist").as[(String, Long, Long, Long)].collect().toSet
    val two60 = BigInt(1) << 60
    val ts = DpReplay.thresholds
    def noise(key: String, idx: Long, bin: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$key\u0001$bin\u00019:$idx:hist".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val u = java.lang.Long.parseLong(md.take(15), 16)
      ts.count(_ <= u).toLong - 32L
    }
    // running bin counts: batch 1 -> x: {1: 1, 2: 1}, y: {0: 1};
    // batch 2 touches only x -> x: {1: 2, 2: 1}. Every release carries
    // ALL THREE public bins (empty ones noise-only), only touched keys
    // release ("y" has no second release).
    def row(k: String, idx: Long, bin: Long, n: Long) =
      (k, idx, bin, math.max(n + noise(k, idx, bin), 0L))
    val expected = Set(
      row("x", 1L, 0L, 0L), row("x", 1L, 1L, 1L), row("x", 1L, 2L, 1L),
      row("y", 1L, 0L, 1L), row("y", 1L, 1L, 0L), row("y", 1L, 2L, 0L),
      row("x", 2L, 0L, 0L), row("x", 2L, 1L, 2L), row("x", 2L, 2L, 1L))
    assert(got == expected)
    // freshness is structural: the release index enters the md5 key, so
    // the Set equality above is only satisfiable with per-(idx, bin)
    // independent draws (a reused draw would need noise("x",1,b) ==
    // noise("x",2,b) for every bin — the replay does not assume it)
  }

  test("DP release noise is NEVER reused across a TTL expiry: the release index outlives the evicted count (code-review r13)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TTLConfig
    import graft.functions.Stats
    implicit val sqlCtx = spark.sqlContext
    // 500ms TTL, 2s idle gap: the running COUNT evicts (restart-fresh
    // semantics) but the release INDEX must not — a rewound index would
    // redraw release 1's exact noise, letting an observer of both
    // publications subtract them and cancel it (the privacy bug this
    // pins). Expect release 2 after the gap: count restarted at the new
    // batch's 2 rows, noise drawn at idx 2.
    val input = MemoryStream[String]
    val rel = Stats.streamingDpRelease(input.toDS().toDF("g"), Seq("g"),
      seed = 31L, ttl = TTLConfig(java.time.Duration.ofMillis(500)))
    val q = rel.writeStream.outputMode("update").format("memory")
      .queryName("dpttl").trigger(Trigger.ProcessingTime(100L)).start()
    input.addData("x", "x", "x")
    awaitCount("dpttl", 1)
    Thread.sleep(2000) // > 4x TTL: count expiry guaranteed
    input.addData("x", "x")
    awaitCount("dpttl", 2)
    q.stop()
    val got = spark.table("dpttl").as[(String, Long, Long)].collect().toSet
    def rowAt(idx: Long, n: Long) =
      ("x", idx, math.max(n + DpReplay.noise(s"x\u000131:$idx"), 0L))
    // release 1: count 3 at idx 1; release 2: count restarted to 2 (TTL
    // evicted the total) but the index advanced to 2 — FRESH noise
    assert(got == Set(rowAt(1L, 3L), rowAt(2L, 2L)),
      s"got $got — an (idx=1, n=2) row would mean reused noise")
  }

  test("streaming robust-stats sketch: per-dimension bottom-k sample == batch face over the union of arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Similarity
    val b1 = (1L to 30L).map(i => (i, Array((i * 0.01).toFloat, (1.0 - i * 0.002).toFloat)))
    val b2 = (31L to 50L).map(i => (i, Array((i * 0.01).toFloat, (1.0 - i * 0.002).toFloat)))
    val input = MemoryStream[(Long, Array[Float])]
    val stats = Similarity.streamingDimensionRobustStats(
      input.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding", k = 16)
    val q = stats.writeStream.outputMode("update").format("memory")
      .queryName("rstats").trigger(Trigger.ProcessingTime(0L)).start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // per dimension: the LAST emission (update mode re-emits per batch)
    // reflects the union of all arrivals, the FIRST only batch 1
    val rows = spark.table("rstats").as[(Long, Long, Long, Long)].collect()
    val perPos = rows.zipWithIndex.groupBy(_._1._1).view
      .mapValues(v => v.maxBy(_._2)._1).toMap
    def batchFace(rows2: Seq[(Long, Array[Float])]) =
      Similarity.dimensionRobustStatsSketch(rows2.toDF("vec_id", "embedding"),
          "vec_id", "embedding", k = 16)
        .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val want = batchFace(b1 ++ b2)
    assert(perPos == want, s"streaming != batch: $perPos vs $want")
    // first-batch emissions equal the batch face over b1 alone
    val first = rows.zipWithIndex.groupBy(_._1._1).view
      .mapValues(v => v.minBy(_._2)._1).toMap
    assert(first == batchFace(b1))
  }

  test("streaming gate-funnel monitor: running per-gate charges match the batch funnel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Text
    val gates = Seq(
      "min_tokens" -> (Text.tokenCount(F.col("text")) >= 3),
      "lang_en" -> (F.col("lang") === "en"))
    val b1 = Seq((1L, "a b c d", "en"), (2L, "x", "en"))
    val b2 = Seq((3L, "p q r", "de"), (4L, "m n o", "en"))
    val input = MemoryStream[(Long, String, String)]
    val ff = input.toDS().toDF("doc_id", "text", "lang")
      .select(Text.firstFailGate(gates).cast("long").as("ff")).as[Long]
    val counts = StateStoreRunner.runningCount[Long, Long](ff, identity)
    val q = counts.writeStream.outputMode("update").format("memory")
      .queryName("funnelmon").trigger(Trigger.ProcessingTime(0L)).start()
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val latest = spark.table("funnelmon").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    // batch face on the union: per-gate charged = n_in - n_out
    val charged = Text.gateFunnel((b1 ++ b2).toDF("doc_id", "text", "lang"), gates)
      .select($"gate_idx", $"n_in" - $"n_out").as[(Long, Long)].collect().toMap
    assert(latest.getOrElse(0L, 0L) == charged(0L))
    assert(latest.getOrElse(1L, 0L) == charged(1L))
    assert(latest(gates.size.toLong) == 2L)   // survivors: docs 1 and 4
  }
}

object StateStoreSpec {
  // static so the foreachBatch closure reaches the same map after restart
  val restartSink = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
}
