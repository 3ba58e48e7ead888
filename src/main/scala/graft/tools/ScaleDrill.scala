package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.functions.{Dedup, Eval, Multimodal, Sampling, Scale, Similarity, Temporal, Text}
import graft.util.Lineage

/** Measured scale curve for the dedup/LSH pipelines (SCALE.md's recipe):
  * replicate the sf0.1 documents table N× and time the q36/q60/q74/q85
  * pipeline shapes at each size — ~linear growth is the expected shape; a
  * superlinear jump means a hidden all-pairs or driver bottleneck.
  *
  * Replication detail that makes the curve MEANINGFUL: each replica's words
  * are salted with the replica index (`w -> w_rN`), so replicas are NOT
  * near-duplicates of each other — every replica universe reproduces the
  * original corpus' near-dup graph disjointly, and candidate-pair volume
  * grows exactly linearly by construction. Naive replication would make
  * each document a near-dup of its N copies: LSH buckets would inflate
  * quadratically in N and the drill would measure that data pathology, not
  * the engine. Replica 0 is salted too, so the 1× point has the same
  * per-word shape as every other size.
  *
  * Usage:
  *   runMain graft.tools.ScaleDrill pipelines 1,10   # time pipelines
  *   runMain graft.tools.ScaleDrill bpe              # batched-BPE drill
  */
object ScaleDrill {

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("pipelines")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    mode match {
      case "bpe" => bpeDrill(spark, sfDir,
        numMerges = args.lift(1).map(_.toInt).getOrElse(120))
      case "skewjoin" => skewJoinDrill(spark,
        args.lift(1).getOrElse("1,10").split(",").map(_.trim.toInt).toSeq)
      case "factfactskew" => factFactSkewDrill(spark,
        args.lift(1).getOrElse("1,10").split(",").map(_.trim.toInt).toSeq)
      case "joinestim" => joinEstimatorDrill(spark, sfDir)
      case "lshprof" => lshProfile(spark, sfDir)
      case "wcprof" => wcProfile(spark, sfDir)
      case "hotcluster" => hotClusterDrill(
        args.lift(1).getOrElse("1000,10000,100000").split(",").map(_.trim.toInt).toSeq,
        addBatches = args.lift(2).map(_.toInt).getOrElse(20))
      case "megacluster" => megaClusterDrill(spark,
        args.lift(1).getOrElse("1,10,100").split(",").map(_.trim.toInt).toSeq)
      case "walgrowth" => walGrowthDrill(spark,
        batches = args.lift(1).map(_.toInt).getOrElse(200))
      case "chainfold" => chainFoldDrill(spark,
        dethronements = args.lift(1).map(_.toInt).getOrElse(2000))
      case "distsnap" => distSnapDrill(spark,
        keys = args.lift(1).map(_.toInt).getOrElse(10000000))
      case _ => pipelineDrill(spark, sfDir,
        args.lift(1).getOrElse("1,10").split(",").map(_.trim.toInt).toSeq,
        nameFilter = args.lift(2))
    }
    spark.stop()
  }

  /** stream_wordcount_store partition-sizing probe (the lshprof finding
    * applied to the single-stateful-operator drill): same word-count
    * drive at 32 vs 8 state partitions, with and without changelog
    * checkpointing. */
  def wcProfile(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").as[String].collect().toSeq
    val clKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    // experiment confs are scoped: restore everything after the profile
    // (the lshProfile discipline, ADVICE r13 #3 — a leaked provider or
    // partition count would skew any work composed after this mode)
    val prevs = Seq("spark.sql.streaming.stateStore.providerClass", clKey,
      "spark.sql.shuffle.partitions").map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      try Drills.storeWordCount(spark, texts.take(1), 1)
      catch { case _: Throwable => () }
      for (parts <- Seq("32", "8"); cl <- Seq("false", "true")) {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        spark.conf.set(clKey, cl)
        (1 to 2).foreach { i =>
          val sec = Drills.storeWordCount(spark, texts, 2)
          println(f"[wcprof] parts=$parts changelog=$cl run$i: $sec%.2fs")
        }
      }
    } finally prevs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** stream_lsh regression profiler (VERDICT r12 #3): times the drill's
    * component layers separately — batch band-key generation (the
    * scan-stage minhash cost with no state), then the full streaming
    * pipeline under RocksDB (the bench config) vs the HDFS-backed
    * provider, vs a bucket-cap-0 run (state reads/writes but no pair
    * emission and no registration) — so a regression localizes to scan,
    * state store, or pair volume. Uses the RAW (un-conf-pinned)
    * pipeline so each experiment's own conf settings apply; the bench
    * entry itself pins 8 partitions + changelog checkpointing per the
    * findings recorded in SCALE.md §lshprof. */
  def lshProfile(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    println(s"[lshprof] docs=${docs.size}")
    def timeIt(label: String)(f: => Any): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[lshprof] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    val df = docs.toDF("doc_id", "text")
    (1 to 3).foreach(i => timeIt(s"batch_bandkeys_$i") {
      Dedup.minhashSignature(df, "text", 3, 4).queryExecution.toRdd.count() })
    def streamRun(provider: String, cap: Int, label: String): Unit = {
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
      try {
        try Drills.streamLshCandidatesRaw(spark, docs.take(2), 1, cap)
        catch { case _: Throwable => () }
        (1 to 2).foreach { i =>
          timeIt(s"${label}_$i") {
            val (sec, pairs) = Drills.streamLshCandidatesRaw(spark, docs, 4, cap)
            System.err.println(s"[lshprof] ${label}_$i pairs=$pairs sec=$sec")
          }
        }
      } finally prev match {
        case Some(pv) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", pv)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    // (no HDFSBackedStateStoreProvider face: transformWithState needs
    // multiple column families, which only RocksDB supports)
    // restore BOTH experiment confs on every exit (ADVICE r13 #3: the old
    // spelling left changelog hard-set to "false" after the profile)
    val clKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevCl = spark.conf.getOption(clKey)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      streamRun(rocks, 64, "stream_rocksdb_cap64")
      streamRun(rocks, 0, "stream_rocksdb_cap0")
      spark.conf.set(clKey, "true")
      streamRun(rocks, 64, "stream_rocksdb_changelog")
      spark.conf.set(clKey, "false")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      streamRun(rocks, 64, "stream_rocksdb_8parts")
      spark.conf.set(clKey, "true")
      streamRun(rocks, 64, "stream_rocksdb_8parts_changelog")
      spark.conf.set(clKey, "false")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      streamRun(rocks, 64, "stream_rocksdb_4parts")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevCl match {
        case Some(v) => spark.conf.set(clKey, v)
        case None => spark.conf.unset(clKey)
      }
    }
  }

  /** AQE-skew-split composition drill (VERDICT r9 #6): the engine's manual
    * salting (q58b/q86, `Scale.saltedJoin`, q184's salt_rec forecast) must
    * COMPOSE with Spark's own runtime skew machinery, not replace it — a
    * 100 TB operator can't assume its caller pre-salted. Per size N the
    * same skewed equi-join (hot key = half the fact side; dim side too big
    * to broadcast, so a real shuffle join) runs three ways in fresh
    * sessions:
    *   1. `noaqe`  — static planning, skew lands on one task (the straggler
    *     baseline);
    *   2. `aqe`    — `spark.sql.adaptive.skewJoin.enabled` with thresholds
    *     sized to the drill (prod defaults are 256MB partitions; the drill
    *     asserts the executed plan actually carries `skew=true`, same pin
    *     as ScaleSpec's unit face);
    *   3. `salted` — `Scale.saltedJoin` at the q184-forecast salt factor,
    *     AQE skew OFF.
    * All three must return the same row count. The recorded crossover goes
    * in SCALE.md. */
  /** Join-estimator head-to-head (VERDICT r11 #6): the three oracled join
    * estimators — q206's histogram product (`cnt_a·cnt_b DIV width`),
    * q208's NDV-aware System-R product (`cnt_a·cnt_b DIV max(ndv)`), and
    * the q183 KMV tier (distinct-key intersection estimate, lifted to a
    * join-size estimate by the multiplicity model
    * `inter_est·(n_a DIV ndv_a)·(n_b DIV ndv_b)`) — graded on the SAME
    * join: one row per estimator with the exact count, signed error, and
    * q-error. Two joins: the uniform-dense user_id join (every estimator's
    * friendly case) and the exponential-skewed sparse value-band join
    * (where the per-bin assumptions separate). Results → SCALE.md §3b. */
  def joinEstimatorDrill(spark: SparkSession, sfDir: String): Unit = {
    val ev = graft.SparkEntry.events(spark, sfDir)
    def qerr(est: Long, act: Long): Double =
      math.max(math.max(est, act), 1L).toDouble / math.max(math.min(est, act), 1L)
    def grade(name: String, a: org.apache.spark.sql.DataFrame,
              b: org.apache.spark.sql.DataFrame, col: String,
              boundaries: Seq[Long]): Unit = {
      val hist = Scale.histogramJoinEstimate(a, col, b, col, boundaries)
        .select("est_total", "actual").head()
      val ndv = Scale.histogramJoinEstimateNdv(a, col, b, col, boundaries)
        .select("est_total", "actual").head()
      // KMV tier: distinct-key intersection estimate x per-side mean
      // multiplicity (n DIV ndv_est) — the q183 sketch lifted to join size
      val tagged = a.select(F.lit("A").as("g"), F.col(col))
        .unionByName(b.select(F.lit("B").as("g"), F.col(col)))
      val inter = Scale.kmvPairOverlap(tagged, "g", col, k = 64)
        .select("inter_est", "truth_common").head()
      val na = a.where(F.col(col).isNotNull).count()
      val nb = b.where(F.col(col).isNotNull).count()
      val ndvA = Scale.kmvDistinct(a.select(F.lit("g").as("g"), F.col(col)),
        "g", col, 64).select("est").head().getLong(0)
      val ndvB = Scale.kmvDistinct(b.select(F.lit("g").as("g"), F.col(col)),
        "g", col, 64).select("est").head().getLong(0)
      val estKmv = inter.getAs[Long]("inter_est") *
        (na / math.max(ndvA, 1L)) * (nb / math.max(ndvB, 1L))
      val act = hist.getAs[Long]("actual")
      println(f"[joinestim] $name%-22s actual=$act%12d")
      for ((nm, e) <- Seq("hist (q206)" -> hist.getAs[Long]("est_total"),
                          "ndv (q208)" -> ndv.getAs[Long]("est_total"),
                          "kmv (q183-lift)" -> estKmv))
        println(f"[joinestim]   $nm%-16s est=$e%12d err=${e - act}%+12d qerr=${qerr(e, act)}%8.2f")
      println(f"[joinestim]   kmv distinct-key tier: inter_est=${inter.getAs[Long]("inter_est")} truth_common=${inter.getAs[Long]("truth_common")}")
    }
    val clicks = ev.where(F.col("event_type") === "click")
    val views = ev.where(F.col("event_type") === "view")
    grade("user_id (uniform)",
      clicks.select(F.col("user_id")), views.select(F.col("user_id")),
      "user_id", Seq(300L, 600L, 900L, 1200L))
    val cBand = clicks.select(
      F.expr("CAST(round(value * 100) AS BIGINT) DIV 1000").as("band"))
    val vBand = views.select(
      F.expr("CAST(round(value * 100) AS BIGINT) DIV 1000").as("band"))
    grade("value_band (skewed)", cBand, vBand, "band", Seq(4L, 8L, 16L, 32L))
  }

  /** Skew-composed fact-fact drill (VERDICT r13 #6): q223's merge-hinted
    * [[Scale.factFactJoin]] tier under KEY skew — one hot orderkey at
    * 10²× the median multiplicity — timed three ways per size in fresh
    * sessions: static planning (`noaqe`, the straggler baseline), AQE
    * skew split with drill-scaled byte thresholds (`aqe` — REQUIREs the
    * executed SortMergeJoin carries `skew=true`, the composition pin),
    * and the [[Scale.saltedJoin]] fallback (AQE off). A TaskEnd listener
    * records the LARGEST single task's shuffle-read rows per run — the
    * flat-under-skew evidence: noaqe's max task tracks the hot key
    * linearly with N while aqe's stays pinned near the advisory size.
    *
    * Shape at N: 640 orderkeys at median multiplicity 2500·N (left ≈
    * 1.85M·N rows with the hot key's 250k·N), right = one row per
    * orderkey (the lineitem×orders shape — orders is unique per key; the
    * merge hint stands in for "neither side broadcastable at 100 TB"). */
  def factFactSkewDrill(spark: SparkSession, sizes: Seq[Int]): Unit = {
    val maxTaskRows = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val r = m.shuffleReadMetrics.recordsRead
          maxTaskRows.getAndUpdate(v => math.max(v, r))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def mkSession(skewJoin: Boolean): SparkSession = {
        val s = spark.newSession()
        s.conf.set("spark.sql.adaptive.enabled", skewJoin.toString)
        s.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
        if (skewJoin) {
          // two-long rows compress hard in the shuffle: thresholds sized to
          // the drill's COMPRESSED partition bytes (prod keeps 256MB
          // defaults). The hot partition holds ~3.5x the median at every N
          // (hot key 250k·N rows + its ~40-key/partition share vs ~100k·N),
          // so factor 2 + a small absolute floor detects it scale-free.
          s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
          s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "512KB")
          s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512KB")
        }
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s
      }
      def left(s: SparkSession, n: Int): DataFrame = {
        val med = 2500L * n
        // skew mass 300×med (r15, was 100×): with 639 uniform keys over 8
        // partitions (~80 keys × med rows each), 100×med put the hot
        // partition at ~2.25× the median — structurally BORDERLINE against
        // skewedPartitionFactor=2 at every size, so byte-level drift
        // (compression, row width) could tip the AQE decision and fail the
        // drill spuriously. 300×med puts it at ~4.75× median: the drill
        // tests that AQE splits a decisively skewed partition, not where
        // AQE's decision boundary sits.
        s.range(639L * med).select(
            (F.pmod(F.col("id"), F.lit(639L)) + 1L).as("k"), F.col("id").as("rev"))
          .unionByName(s.range(300L * med).select(
            F.lit(0L).as("k"), (F.col("id") + 1000000000000L).as("rev")))
      }
      def right(s: SparkSession): DataFrame =
        s.range(640L).select(F.col("id").as("k"), (F.col("id") * 7L).as("pri"))
      sizes.foreach { n =>
        def run(s: SparkSession): (Double, Long, Long, String) = {
          maxTaskRows.set(0L)
          val j = Scale.factFactJoin(left(s, n), right(s), Seq("k" -> "k"))
          val t0 = System.nanoTime()
          val rows = j.queryExecution.toRdd.count()
          // capture elapsed BEFORE the listener-drain sleep (ADVICE r14):
          // the 600ms drain is measurement plumbing, not join work
          val sec = (System.nanoTime() - t0) / 1e9
          Thread.sleep(600L) // listener events post async; drain window
          (sec, rows, maxTaskRows.get(), j.queryExecution.executedPlan.toString)
        }
        val (tNo, rNo, mtNo, planNo) = run(mkSession(skewJoin = false))
        require(planNo.contains("SortMergeJoin"),
          s"factFactJoin did not plan SMJ:\n$planNo")
        val (tAqe, rAqe, mtAqe, planAqe) = run(mkSession(skewJoin = true))
        require(planAqe.contains("skew=true"),
          s"AQE did not mark the factFactJoin SMJ skew=true:\n$planAqe")
        val sSalt = mkSession(skewJoin = false)
        maxTaskRows.set(0L)
        val t0 = System.nanoTime()
        val rSalt = Scale.saltedJoin(left(sSalt, n), right(sSalt), "k", "k", 16)
          .select("rev", "pri").queryExecution.toRdd.count()
        val tSalt = (System.nanoTime() - t0) / 1e9 // elapsed before the drain
        Thread.sleep(600L)
        val mtSalt = maxTaskRows.get()
        require(rNo == rAqe && rAqe == rSalt,
          s"row counts diverged: noaqe=$rNo aqe=$rAqe salted=$rSalt")
        System.err.println(
          f"[scale] factfactskew x$n%-4d rows_out=$rNo%11d  " +
          f"noaqe=$tNo%6.1fs maxtask=$mtNo%9d  " +
          f"aqe=$tAqe%6.1fs maxtask=$mtAqe%9d (skew=true)  " +
          f"salted=$tSalt%6.1fs maxtask=$mtSalt%9d")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def skewJoinDrill(spark: SparkSession, sizes: Seq[Int]): Unit = {
    def mkSession(skewJoin: Boolean, aqe: Boolean): SparkSession = {
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
      if (skewJoin) {
        // scale the byte thresholds to drill-sized shuffles the same way
        // the unit face does (prod keeps the 256MB defaults)
        s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4MB")
        s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4MB")
      }
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      s
    }
    def fact(s: SparkSession, n: Int): DataFrame =
      s.range(n.toLong * 2000000L).select(
        F.when(F.col("id") % 2 === 0, 0L)
          .otherwise(F.pmod(F.xxhash64(F.col("id")), F.lit(n.toLong * 1000000L)))
          .as("k"),
        F.col("id").as("payload"))
    def dim(s: SparkSession, n: Int): DataFrame =
      s.range(n.toLong * 1000000L).select(F.col("id").as("k"),
        (F.col("id") * 3).as("v"))
    sizes.foreach { n =>
      def timeIt(df: DataFrame): (Double, Long, String) = {
        val t0 = System.nanoTime()
        val rows = df.queryExecution.toRdd.count()
        ((System.nanoTime() - t0) / 1e9, rows, df.queryExecution.executedPlan.toString)
      }
      val sNo = mkSession(skewJoin = false, aqe = false)
      val (tNo, rNo, _) = timeIt(fact(sNo, n).join(dim(sNo, n), "k"))
      val sAqe = mkSession(skewJoin = true, aqe = true)
      val (tAqe, rAqe, planAqe) = timeIt(fact(sAqe, n).join(dim(sAqe, n), "k"))
      val skewEngaged = planAqe.contains("skew=true")
      val sSalt = mkSession(skewJoin = false, aqe = false)
      val (tSalt, rSalt, _) = timeIt(Scale.saltedJoin(
        fact(sSalt, n), dim(sSalt, n), "k", "k", 16).select("payload", "v"))
      require(rNo == rAqe && rAqe == rSalt,
        s"row counts diverged: noaqe=$rNo aqe=$rAqe salted=$rSalt")
      System.err.println(
        f"[scale] skewjoin x$n%-4d rows_out=$rNo%11d  noaqe=$tNo%7.1fs  " +
        f"aqe=$tAqe%7.1fs (skew=true: $skewEngaged)  salted=$tSalt%7.1fs")
    }
  }

  /** Word-salted N× replication of the documents table (see object doc). */
  def replicate(docs: DataFrame, reps: Int): DataFrame =
    docs.crossJoin(F.broadcast(
        docs.sparkSession.range(reps).select(F.col("id").as("__rep"))))
      .select(
        (F.col("doc_id") + F.col("__rep") * 10000000L).as("doc_id"),
        F.array_join(F.transform(F.split(F.col("text"), " "),
          w => F.concat(w, F.lit("_r"), F.col("__rep").cast("string"))), " ")
          .as("text"),
        F.col("lang"), F.col("source"))

  /** N× replication of the embeddings table, salted with a per-replica
    * deterministic SIGN FLIP (dimension d of replica r is negated when
    * `hash(r, d)` is odd) — a diagonal ±1 isometry per replica. Within a
    * replica every pairwise cosine is EXACTLY the base corpus' (isometries
    * preserve inner products and norms), so each replica reproduces the
    * original near-dup graph disjointly; across replicas the relative flip
    * is a random ± pattern, scrambling cosines toward 0 (far below any
    * dedup threshold). This is the embedding-space analogue of the
    * word-salting above: pair volume grows exactly linearly by
    * construction, so the drill measures the ENGINE, not a data pathology
    * (naive replication would make every vector an exact duplicate of its
    * N copies and inflate within-cell pair volume quadratically).
    * Replica 0 is flipped too, so the 1× point has the same shape.
    *
    * Written as 64 files: the whole corpus is only ~13 MB at 100× (64
    * floats/row compress hard), so a single-file write would give the scan
    * stage ONE split — and [[Similarity.semDedup]]'s N×k assignment join
    * runs INSIDE the scan stage (broadcast centroids, no shuffle below
    * it), so the drill would time one core against work that every real
    * multi-file dataset fans out for free. */
  def replicateEmb(emb: DataFrame, reps: Int): DataFrame =
    emb.crossJoin(F.broadcast(
        emb.sparkSession.range(reps).select(F.col("id").as("__rep"))))
      .select(
        (F.col("vec_id") + F.col("__rep") * 10000000L).as("vec_id"),
        F.transform(F.col("embedding"), (x, i) =>
          F.when(F.pmod(F.hash(F.col("__rep"), i), F.lit(2)) === 0, x)
            .otherwise(x * F.lit(-1.0f))).as("embedding"),
        F.col("label"))
      .repartition(64)

  private def pairs(docs: DataFrame): DataFrame =
    Dedup.nearDupPairs(docs.where(Text.tokenCount(F.col("text")) >= 3),
        "doc_id", "text", k = 3, numHashes = 4, rowsPerBand = 2, threshold = 0.05)
      .select("a", "b")

  /** The four pipeline shapes of the recorded bench (sans final sorts —
    * the drill times pipeline work, not output ordering). */
  def drills: Seq[(String, DataFrame => DataFrame)] = Seq(
    // streaming incremental dup-clusters (r14): LSH candidate pairs in 4
    // hash-slice micro-batches folded into the union-find state with
    // delta emission (endpoints + root changes); timed region = candidate scan +
    // folds + final snapshot. Word-salted replicas are disjoint near-dup
    // universes, so pair volume (the per-batch driver-coordination bound)
    // grows linearly with N — the honest regime for the drill
    "dup_clusters_incremental" -> { docs =>
      val id = s"drill-dupc-${System.nanoTime()}"
      graft.streaming.IncrementalClusters.clearInMemory(id)
      val inc = graft.streaming.IncrementalClusters.inMemory(id)
      val banded = graft.functions.Dedup.lshBands(
        graft.functions.Dedup.minhashSignature(docs, "text", 3, 4), 4, 2)
      val pairs = Lineage.cut(graft.functions.Dedup.lshCandidatePairs(banded, "doc_id", 2)
        .select(F.col("a").cast("long").as("a"), F.col("b").cast("long").as("b")))
      (0 until 4).foreach { i =>
        inc.applyBatch(pairs.where(F.pmod(F.xxhash64(F.col("a"), F.col("b")),
          F.lit(4L)) === i.toLong), "a", "b", i.toLong).count()
      }
      val snap = inc.snapshot(docs.sparkSession) // driver-built: safe to clear
      graft.streaming.IncrementalClusters.clearInMemory(id)
      Lineage.release(pairs)
      snap
    },
    // one token explode into a vocabulary-keyed min(batch) aggregate
    // (gram-exchange family); everything downstream runs on 10 rows.
    // NOTE the word-salted replicas grow vocabulary linearly with N,
    // so new_tokens volume grows with the corpus by construction
    "vocab_growth (q192)" -> (docs =>
      graft.functions.Text.vocabularyGrowth(docs, "doc_id", "text",
        batches = 10)),
    // one min/max agg + one 16-key map-side-combined groupBy; the doc_id
    // domain stands in for any BIGINT column at corpus scale
    "column_histogram (q196)" -> (docs =>
      Scale.columnHistogram(docs.select(F.col("doc_id")), "doc_id", 16)),
    // one conditional-sum scan for all probes, corpus-size-free output
    "selectivity_audit (q197)" -> (docs =>
      Scale.selectivityAudit(docs.select(F.col("doc_id")), "doc_id",
        Seq((0L, 2000000L), (2000000L, 20000000L), (50000000L, 900000000L)))),
    // (source, word) map-side-combined count -> |sources|-key aggregate;
    // word-salted replicas grow the vocabulary linearly with N, so the
    // count table grows linearly by construction (the honest shape)
    "unigram_concentration (q198)" -> (docs =>
      graft.functions.Text.unigramConcentration(docs, "source", "text")),
    // one scan (hash + token count in the scan stage), one md5-keyed
    // min-id aggregate joined back co-partitioned, |sources|-key report
    "dup_token_mass (q195)" -> (docs =>
      graft.functions.Dedup.dupTokenMass(docs, "doc_id", "text", "source")),
    // per-row JSON synthesis + get_json_object in the scan stage, ONE
    // conditional aggregate, |fields|-row unpivot — corpus-size-free out
    "json_field_audit (q199)" -> { docs =>
      val j1 = F.concat(F.lit("{\"id\":"), F.col("doc_id").cast("string"),
        F.lit(",\"lang\":\""), F.col("lang"), F.lit("\""),
        F.when(F.col("doc_id") % 5 === 0, F.concat(F.lit(",\"score\":"),
          (F.col("doc_id") % 100).cast("string"))).otherwise(F.lit("")),
        F.lit("}"))
      val payload = F.when(F.col("doc_id") % 7 === 0, F.substring(j1, 1, 9))
        .otherwise(j1)
      graft.functions.Expectations.jsonFieldAudit(
        docs.select(payload.as("j")), "j", Seq("id", "lang", "score", "missing"))
    },
    // fixed-boundary band fold + a <=|bins|+1-key map-side-combined
    // groupBy; bins never grow with the corpus
    "fixed_bin_histogram (q200)" -> (docs =>
      Scale.fixedBinHistogram(docs.select(F.col("doc_id")), "doc_id",
        Seq(2000000L, 20000000L, 50000000L, 200000000L))),
    // two fixed-bin passes + a <=|bins|-row join; the split recreates
    // q201's returned-vs-rest slicing on a corpus column
    "histogram_drift (q201)" -> (docs =>
      Scale.histogramDrift(
        docs.where(F.col("doc_id") % 3 === 0).select(F.col("doc_id")),
        docs.where(F.col("doc_id") % 3 =!= 0).select(F.col("doc_id")),
        "doc_id", Seq(2000000L, 20000000L, 50000000L, 200000000L))),
    // one conditional-sum scan per side + a 1x1 cross; the truth join is
    // the calibration tier (kept in the drill — it IS the corpus cost)
    "join_size_hist (q206)" -> (docs =>
      Scale.histogramJoinEstimate(
        docs.select(F.col("doc_id")), "doc_id",
        docs.select((F.col("doc_id") * 2).as("d2")), "d2",
        Seq(2000000L, 20000000L, 50000000L, 200000000L))),
    // per-bin counts + per-bin KMV sketches per side (distinct-heap TopK
    // moves ≤ k rows per (bin, partition)); the self-join truth tier is
    // the one corpus join
    "join_size_ndv (q208)" -> (docs =>
      Scale.histogramJoinEstimateNdv(
        docs.select(F.col("doc_id")), "doc_id",
        docs.select(F.col("doc_id")), "doc_id",
        Seq(2000000L, 20000000L, 50000000L, 200000000L), k = 32)),
    // one (group, value) weight-sum shuffle (key space = distinct
    // values, not rows) + a per-group fold over the bounded value table
    "token_mass_quantiles (q210)" -> (docs =>
      Scale.weightedQuantiles(
        docs.select(F.col("source"),
          graft.functions.Text.tokenCount(F.col("text")).cast("long").as("len"))
          .withColumn("w", F.col("len")),
        "source", "len", "w", Seq(250000L, 500000L, 750000L, 950000L))),
    // per-group sketches + one global sketch (two distinct-heap TopK
    // scans), then <=|groups| rows of O(k^2) arithmetic
    "group_ks_audit (q211)" -> (docs =>
      Scale.groupedKsVsGlobal(
        docs.select(F.col("lang"), F.col("doc_id"),
          F.length(F.col("text")).cast("long").as("len")),
        "lang", "doc_id", "len", k = 128)),
    // two sketch builds (each a distinct-heap TopK scan) + O(k^2)
    // one-row arithmetic; no bins, no corpus co-shuffle
    "sketch_ks (q209)" -> (docs =>
      Scale.sketchKsDistance(
        docs.where(F.col("doc_id") % 3 === 0).select(F.col("doc_id"),
          F.length(F.col("text")).cast("long").as("len")), "doc_id", "len",
        docs.where(F.col("doc_id") % 3 =!= 0).select(F.col("doc_id"),
          F.length(F.col("text")).cast("long").as("len")), "doc_id", "len",
        k = 128)),
    // sketch build (distinct-heap TopK) + one conditional-sum truth scan
    "sketch_cdf_audit (q207)" -> (docs =>
      Scale.quantileSketchCdfAudit(
        docs.select(F.col("doc_id"),
          F.length(F.col("text")).cast("long").as("len")),
        "doc_id", "len", Seq(200L, 800L, 2000L, 8000L), k = 128)),
    // one scan into the distinct-heap TopK (≤ k rows per (group,
    // partition) cross the exchange) + a ≤k-row rank read — the KMV
    // sketch shape carrying a value payload
    "quantile_sketch (q203)" -> (docs =>
      Scale.quantileEstimate(
        Scale.quantileSketch(docs.select(F.col("lang"), F.col("doc_id"),
          F.length(F.col("text")).cast("long").as("len")),
          "lang", "doc_id", "len", k = 256),
        "lang", Seq(250000L, 500000L, 750000L))),
    // probes AND bins folded in ONE conditional-sum scan; estimates are
    // literal arithmetic on the 1-row frame — corpus-size-free output
    "selectivity_hist (q202)" -> (docs =>
      Scale.selectivityAuditHist(docs.select(F.col("doc_id")), "doc_id",
        Seq((0L, 2000000L), (2000000L, 20000000L), (50000000L, 900000000L)),
        Seq(2000000L, 20000000L, 50000000L, 200000000L))),
    // ONE (a,b) map-side-combined groupBy (joint key space fixed at 1000
    // cells by the modular banding, whatever N is) feeds every statistic;
    // estimators are literal arithmetic on the 1-row frame. q215's
    // scoreboard is a ≤|probes|-row fold over this output — no separate
    // drill needed
    "conjunctive_selectivity (q214)" -> (docs =>
      Scale.conjunctiveSelectivityAudit(
        docs.select(F.expr("pmod(doc_id, 1000L) DIV 10").as("ca"),
          F.expr("pmod(doc_id, 1000L)").as("fb")),
        "ca", "fb",
        Seq((0L, 9L, 0L, 99L), (10L, 19L, 100L, 199L), (0L, 9L, 500L, 999L),
          (0L, 99L, 0L, 999L)),
        Seq(25L, 50L, 75L), Seq(250L, 500L, 750L))),
    // same ONE bounded (a,b) groupBy; the 2D cell interpolation is
    // literal arithmetic on the 1-row frame (16 cells here)
    "joint_selectivity (q217)" -> (docs =>
      Scale.conjunctiveJointHistAudit(
        docs.select(F.expr("pmod(doc_id, 1000L) DIV 10").as("ca"),
          F.expr("pmod(doc_id, 1000L)").as("fb")),
        "ca", "fb",
        Seq((0L, 9L, 0L, 99L), (10L, 19L, 100L, 199L), (0L, 9L, 500L, 999L),
          (0L, 99L, 0L, 999L)),
        Seq(25L, 50L, 75L), Seq(250L, 500L, 750L))),
    // one map-side-combined groupBy (bounded key space) + per-GROUP
    // literal noise arithmetic — the release adds zero corpus cost
    "dp_release (q218)" -> (docs =>
      graft.functions.Stats.dpNoisyCounts(
        docs.select(F.col("lang"), F.expr("pmod(doc_id, 100L)").as("band")),
        Seq("lang", "band"), seed = 12L)),
    // same shape with the clamp in the scan stage; noise stays per-group
    "dp_sum_release (q219)" -> (docs =>
      graft.functions.Stats.dpNoisySums(
        docs.select(F.col("lang"), F.expr("pmod(doc_id, 100L)").as("band"),
          F.length(F.col("text")).cast("long").as("len")),
        Seq("lang", "band"), "len", clampC = 4000L, seed = 12L)),
    // one (group, value) groupBy + windows over the BANDED distinct-value
    // ladder unioned with the fixed public grid (len DIV 16 keeps the
    // ladder value-domain-bounded whatever N; the grid adds 513 rows/group)
    "dp_median (q220)" -> (docs =>
      graft.functions.Stats.dpMedian(
        docs.select(F.col("lang"),
          F.expr("CAST(length(text) AS BIGINT) DIV 16").as("len_band")),
        Seq("lang"), "len_band", seed = 12L,
        candLo = 0L, candHi = 1024L, candStep = 2L)),
    // the q222 shape: one map-side-combined (group, bin) groupBy (bin
    // arithmetic in the scan stage) + the public |groups|x(bins+1) frame
    // join + per-CELL literal noise — corpus cost is the binned count scan
    "dp_histogram (q222)" -> (docs =>
      graft.functions.Stats.dpHistogram(
        docs.select(F.col("lang"),
          F.length(F.col("text")).cast("long").as("len")),
        Seq("lang"), "len",
        boundaries = Seq(0L, 500L, 1000L, 1500L, 2000L, 3000L),
        seed = 12L)),
    "minhash_sig (q36)" -> (docs =>
      Dedup.minhashSignature(docs.where(Text.tokenCount(F.col("text")) >= 3),
        "text", 3, 2).select("doc_id", "mh0", "mh1")),
    "dup_clusters (q60)" -> (docs =>
      Dedup.duplicateClusters(pairs(docs), "a", "b")),
    "neardup_pipeline (q74)" -> { docs =>
      val drops = Dedup.duplicateClusters(pairs(docs), "a", "b")
        .where(F.col("id") =!= F.col("cluster_id"))
        .select(F.col("id").as("doc_id"))
      docs.join(drops, Seq("doc_id"), "left_anti")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(Text.tokenCount(F.col("text")).cast("long")).as("n_tokens"))
    },
    "leakfree_split (q85)" -> { docs =>
      val clusters = Dedup.duplicateClusters(pairs(docs), "a", "b")
      Sampling.leakFreeSplit(docs, "doc_id", clusters, "id", "cluster_id",
          testPpm = 200000L)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).as("n_docs"))
    },
    "winnow_overlap (q111)" -> (docs =>
      Dedup.winnowOverlapCandidates(docs, "doc_id", "text",
        k = 4, w = 4, minShared = 2L, maxBucketSize = 12)),
    "dsir_weights (q112)" -> (docs =>
      Sampling.dsirWeights(docs, docs.where(F.col("lang") === "en"),
        "doc_id", "text")),
    "containment (q118)" -> (docs =>
      Dedup.containmentPairs(docs, "doc_id", "text",
        k = 4, w = 4, minShared = 2L, maxBucketSize = 12,
        minContainmentPpm = 300000L)),
    // word-salted replicas keep each replica's dup-gram population
    // disjoint: dup windows (and masked volume) scale linearly with N
    // summing length(clean_text) keeps the reassembly in the measured
    // plan (a bare n_masked sum would let Catalyst prune the rebuild out)
    "dup_span_mask (q125)" -> (docs =>
      Dedup.maskDuplicatedSpans(docs, "doc_id", "text", n = 8, minCount = 2L)
        .groupBy().agg(F.sum("n_masked").as("total_masked"),
          F.sum(F.length(F.col("clean_text")).cast("long")).as("total_clean_chars"))),
    // word-salting grows the vocabulary linearly with N: this row measures
    // the vocabulary-keyed join family (count-table builds + probes) as
    // both corpus AND key cardinality scale
    "trigram_lm (q129)" -> (docs =>
      graft.functions.Text.trigramLmScore(docs, "doc_id", "text")
        .groupBy().agg(F.sum("lm3_sum_ppm").as("total_ppm"),
          F.sum("n_trigrams").as("total_trigrams"))),
    // word-salted replicas keep gram universes disjoint: the base corpus'
    // fingerprint table and the batch's probe volume both grow linearly,
    // and the fp-keyed shuffle join is the measured object
    "cross_corpus (q126)" -> (docs =>
      Dedup.crossCorpusDedup(
          docs.where(F.col("source") =!= "src0"),
          docs.where(F.col("source") === "src0"),
          "doc_id", "text", k = 8)
        .select("doc_id", "source")),
    // source is salted with the replica index (derived from the doc_id
    // offset) so each replica-source keeps the base's per-source doc-ratio
    // shape — without it the ratio denominators would grow N× while each
    // salted gram stays within one replica, and no gram would ever reach
    // the threshold (the count shuffle would still run, but the row would
    // measure an always-empty output instead of the base shape at scale)
    "boilerplate (q127)" -> (docs =>
      Text.boilerplateGrams(
          docs.withColumn("source", F.concat_ws("_", F.col("source"),
            F.floor(F.col("doc_id") / 10000000L).cast("string"))),
          "text", "source", n = 2, minDocRatioPpm = 200000L)),
    // pure scan-stage model inference (transform+aggregate over tokens,
    // zero shuffle): the row pins linear-in-bytes scoring; summing
    // score_sum keeps the whole hash+weight fold in the measured plan
    "classifier (q136)" -> (docs =>
      Text.classifierScore(docs, "doc_id", "text")
        .groupBy().agg(F.sum("score_sum").as("total_score"),
          F.count(F.lit(1)).as("n_docs"))),
    // one corpus scan into a |sources|-row aggregate (source salted with
    // the replica index so the aggregate's cardinality grows with N too)
    "temperature_mix (q137)" -> (docs =>
      Sampling.temperatureMixWeights(
          docs.withColumn("source", F.concat_ws("_", F.col("source"),
            F.floor(F.col("doc_id") / 10000000L).cast("string"))),
          "source", "text")),
    // histogram AUC: the corpus contributes two scans (score fold + pruned
    // label columns) into a score-domain-sized histogram; the cumulative
    // fold runs over the histogram array, so the row pins that evaluation
    // cost is the scan, not a corpus sort
    "classifier_eval (q138)" -> (docs =>
      Eval.binaryEval(
        Text.classifierScore(docs, "doc_id", "text")
          .join(docs.select(F.col("doc_id"),
            (F.col("lang") === "en").as("label")), "doc_id"),
        "score_milli", "label", 1000000L)),
    // per-source ranking windows + full-outer fusion join; source salted
    // with the replica index so group sizes stay the base's while group
    // COUNT grows with N — the retrieval contract (more queries, each
    // bounded), which is what keeps the window sorts linear overall
    "rrf_fusion (q139)" -> { docs =>
      val salted = docs.withColumn("source", F.concat_ws("_",
        F.col("source"), F.floor(F.col("doc_id") / 10000000L).cast("string")))
      val byLength = salted.select(F.col("source"), F.col("doc_id"),
        F.length(F.col("text")).cast("long").as("score"))
      val byQuality = Text.classifierScore(salted, "doc_id", "text")
        .join(salted.select("doc_id", "source"), "doc_id")
        .select(F.col("source"), F.col("doc_id"),
          F.col("score_milli").as("score"))
      Eval.rrfFuse(byLength, byQuality, "source", "doc_id", "score", k = 3)
    },
    // the audit's contract at scale: sampleMod grows with the corpus so
    // the SAMPLE (and its chosen gram-blocked truth join) stays a
    // constant size while the sampling scan grows linearly — the drill
    // pins that the corpus-sized part of the audit is just the scan
    "lsh_recall (q141)" -> { docs =>
      val reps = (docs.agg(F.max(F.col("doc_id") / 10000000L)).head()
        .getDouble(0).toLong + 1L).max(1L)
      Dedup.lshRecallAudit(docs, "doc_id", "text", k = 3, numHashes = 4,
        rowsPerBand = 2, threshold = 0.05, sampleMod = 2L * reps)
    },
    // pure scan-stage indexed filter; summing counts keeps the squeeze in
    // the measured plan (a bare count would prune the rebuild out)
    "squeeze_repeats (q146)" -> (docs =>
      Text.squeezeRepeatTokens(docs, "doc_id", "text")
        .groupBy().agg(F.sum("n_before").as("tb"), F.sum("n_after").as("ta"),
          F.sum(F.length(F.col("clean_text")).cast("long")).as("chars"))),
    // q138's scoring scan into a |bins|-row aggregate — bin count is the
    // score domain DIV width, never the corpus
    "calibration_bins (q147)" -> (docs =>
      Eval.calibrationBins(
        Text.classifierScore(docs, "doc_id", "text")
          .join(docs.select(F.col("doc_id"),
            (F.col("lang") === "en").as("label")), "doc_id"),
        "score_milli", "label", 200000L)),
    // one scan into per-bucket windows: bucket key space is the token
    // domain DIV width (bounded), rows per bucket grow linearly — the row
    // pins that batch planning is scan + bounded-key windows
    "length_batches (q145)" -> (docs =>
      Sampling.lengthBucketBatches(docs, "doc_id", "text",
        bucketWidth = 32L, batchSize = 16)),
    // id-keyed anti/semi joins; per-source counts — trivially linear by
    // construction, the row pins that the union+single-count shape holds
    "corpus_diff (q134)" -> (docs =>
      Dedup.corpusDiff(docs.where(F.col("doc_id") % 7 =!= 0),
          docs.where(F.col("doc_id") % 5 =!= 0), "doc_id", "source")),
    // word-salted replicas keep each replica's dup graph disjoint: nodes
    // and edges grow linearly, iteration count is fixed — the row pins
    // that the per-iteration contribution shuffle (the only per-round
    // exchange) scales with the edge list
    "pagerank (q149)" -> (docs =>
      graft.functions.Graph.pageRankPpm(pairs(docs), "a", "b", iters = 3)),
    // source salted with the replica index: group count grows with N
    // while per-group vocab stays the base's (words salted too), so the
    // (group, term) count table AND the term-keyed pair join both grow
    // linearly — cross-replica groups share no term and produce no pair
    "source_sim (q150)" -> (docs =>
      Text.sourceSimilarity(
        docs.withColumn("source", F.concat_ws("_", F.col("source"),
          F.floor(F.col("doc_id") / 10000000L).cast("string"))),
        "source", "text")),
    // salted words → per-replica signature populations: band buckets stay
    // the base's size while bucket COUNT grows with N; the row pins the
    // single-exchange bucket stage + id-keyed verify joins
    "simhash_pairs (q152)" -> (docs =>
      Dedup.simhashNearPairs(docs, "doc_id", "text", maxHamming = 3)),
    // one term-count shuffle (vocab grows linearly under word salting)
    // into a bounded top-100 TakeOrdered — the row pins that the curve's
    // cost is the count shuffle, not the vocab-wide tail
    "vocab_coverage (q154)" -> (docs =>
      Text.vocabCoverage(docs, "text", Seq(1L, 10L, 100L))),
    // same candidate population as the production banding (salted words
    // keep replicas' candidates disjoint — linear); the calibration output
    // is at most numHashes+1 rows regardless of N
    "minhash_calib (q155)" -> (docs =>
      Dedup.minhashCalibration(
        docs.where(Text.tokenCount(F.col("text")) >= 3),
        "doc_id", "text", k = 3, numHashes = 8, rowsPerBand = 2)),
    // gram-keyed min + join-back; salted words keep gram universes
    // disjoint per replica so first-occurrence volume grows linearly
    "novelty (q158)" -> (docs =>
      Dedup.contentNovelty(docs, "doc_id", "text", k = 3)
        .groupBy().agg(F.sum("n_novel").as("tn"), F.sum("n_grams").as("tg"))),
    // replica-salted group key (same construction as source_sim): group
    // count and vocab grow linearly, per-group vocab stays the base's, and
    // cross-replica groups share no term — the pair join stays linear
    "source_div (q161)" -> (docs =>
      Text.sourceDivergence(
        docs.withColumn("source", F.concat_ws("_", F.col("source"),
          F.floor(F.col("doc_id") / 10000000L).cast("string"))),
        "source", "text")),
    // replica-salted groups: window partition COUNT grows, partition SIZE
    // stays the base's (the shardPlan scale contract); the audit adds one
    // manifest-sized aggregate on top
    "shard_balance (q160)" -> (docs =>
      Sampling.shardBalance(
        docs.withColumn("source", F.concat_ws("_", F.col("source"),
          F.floor(F.col("doc_id") / 10000000L).cast("string"))),
        "doc_id", "text", "source", targetTokens = 500L)),
    // replica-salted groups keep the exact-percentile buffer at the base
    // group's row count while group count grows — the scale-safe usage
    // the scaladoc prescribes (fixed groups at 100 TB -> histogram path)
    "length_quantiles (q162)" -> (docs =>
      Text.lengthQuantiles(
        docs.withColumn("source", F.concat_ws("_", F.col("source"),
          F.floor(F.col("doc_id") / 10000000L).cast("string"))),
        "source", "text")),
    // the q168 aggregate plus one more pass of the CUT scored frame
    // against broadcast thresholds — the corpus tokenizes once; salted
    // groups keep percentile buffers at the base group's size
    "budget_projection (q170)" -> (docs =>
      Text.budgetProjection(
        docs.withColumn("source", F.concat_ws("_", F.col("source"),
          F.floor(F.col("doc_id") / 10000000L).cast("string"))),
        "doc_id", "text", "source", quantile = 0.75)),
    // sentence-keyed min + join-back (the q158 shape at sentence
    // granularity); salted words keep sentence universes disjoint per
    // replica so both exchanges grow linearly
    "sentence_dedup (q169)" -> (docs =>
      Dedup.dedupSentencesKeepFirst(docs, "doc_id", "text")
        .groupBy().agg(F.sum("n_kept").as("tk"), F.sum("n_sents").as("ts"),
          F.sum(F.length(F.col("clean_text")).cast("long")).as("chars"))),
    // the q136 scoring scan + id-keyed source join into a grouped
    // percentile; replica-salted groups keep each percentile buffer at
    // the base group's row count while group count grows (q162 regime)
    "thr_calibration (q168)" -> (docs =>
      Text.thresholdCalibration(
        docs.withColumn("source", F.concat_ws("_", F.col("source"),
          F.floor(F.col("doc_id") / 10000000L).cast("string"))),
        "doc_id", "text", "source",
        Seq("keep50" -> 0.50, "keep25" -> 0.75, "keep10" -> 0.90))),
    // FIXED eval set (base replica's 1-in-100 — the audit-knob rule):
    // the broadcast probe does one fp lookup per corpus gram position,
    // linear in corpus bytes; covered-position collects stay doc-bounded
    "eval_span_mask (q167)" -> (docs =>
      Dedup.maskEvalSpans(
          docs.where(F.col("doc_id") % 100 =!= 0), "doc_id", "text",
          docs.where(F.col("doc_id") < 10000000L && F.col("doc_id") % 100 === 0),
          "text", n = 8)
        .groupBy().agg(F.sum("n_masked").as("tm"), F.sum("n_tokens").as("tt"))),
    // gram-keyed left join of new-third grams against base-thirds distinct
    // grams; salted words keep both gram universes linear and disjoint
    // across replicas — the probe join volume grows linearly
    "incr_novelty (q165)" -> (docs =>
      Dedup.incrementalNovelty(
          docs.where(F.col("doc_id") % 3 === 0),
          docs.where(F.col("doc_id") % 3 =!= 0), "doc_id", "text", k = 3)
        .groupBy().agg(F.sum("n_new").as("tn"), F.sum("n_grams").as("tg"))),
    // one scan computing the first-failing gate per row into a <=5-row
    // count; the md5 first-seen window partitions on the checksum
    // (partition count grows, size stays bounded by dup-group size)
    "gate_funnel (q166)" -> { docs =>
      import org.apache.spark.sql.expressions.Window
      val flagged = docs.withColumn("__first",
        F.col("doc_id") === F.min("doc_id").over(
          Window.partitionBy(F.md5(F.col("text")))))
      Text.gateFunnel(flagged, Seq(
        "min_tokens" -> (Text.tokenCount(F.col("text")) >= 5),
        "quality" -> Text.qualityKeep(F.col("text")),
        "exact_unique" -> F.col("__first")))
    },
    // the drilled LSH pair stage plus two id-keyed source joins; salted
    // words keep pair volume linear, the source rollup is |sources|² rows
    "cross_source (q164)" -> (docs =>
      Dedup.crossSourceDupMatrix(
        docs.where(Text.tokenCount(F.col("text")) >= 3)
          .withColumn("source", F.concat_ws("_", F.col("source"),
            F.floor(F.col("doc_id") / 10000000L).cast("string"))),
        "doc_id", "text", "source",
        k = 3, numHashes = 4, rowsPerBand = 2, threshold = 0.05)),
    // pure scan-stage regex chain (two extract_all + two replace per
    // doc), zero shuffle — the row pins that the regex NFA cost stays
    // linear in corpus bytes
    "pii_redact (q175)" -> (docs =>
      Text.redactPiiReport(docs, "doc_id", "text")),
    // one native single-pass expression per doc (doc-bounded hashmaps in
    // the scan stage — the tagged-gram explode spelling this replaced ran
    // >1h on the 500k drill), ZERO shuffle; per-doc work is
    // corpus-independent, so the row pins scan linearity
    "repetition_profile (q172)" -> (docs =>
      Text.repetitionProfile(docs, "doc_id", "text")),
    // hamming<=3 banding (4 x 16-bit bands) over scan-stage hashes through
    // the counted-cap bucket machinery. Payload = 120-char prefix so the
    // 64 cells hold ~2 bytes each and the hash carries CONTENT (a <64-byte
    // payload hashes by length pattern — all same-length shorts collide
    // into one degenerate bucket; that regime is what the tightened cap +
    // oversize WARN are for, and it OOM'd this drill before the cap fix)
    "perceptual_near_pairs" -> (docs =>
      Multimodal.perceptualNearPairs(
        docs.select(F.col("doc_id"), Multimodal.fakePayload(
          F.substring(F.col("text"), 1, 120)).as("payload")),
        "doc_id", "payload", maxHamming = 3)),
    // scan-stage 64-bit average-hash (stub luma grid) into a (sig, id)
    // shuffle; salted text keeps hash universes disjoint per replica so
    // group volume grows linearly
    "perceptual_dedup (q171)" -> (docs =>
      Multimodal.perceptualDupGroups(
          docs.select(F.col("doc_id"), Multimodal.fakePayload(
            F.substring(F.col("text"), 1, 40)).as("payload")),
          "doc_id", "payload")),
    // same scan-stage-hash shape as q171 with the gradient bit formula —
    // the row pins that the hasher choice doesn't change the scale curve
    "dhash_dedup (q174)" -> (docs =>
      Multimodal.perceptualDupGroups(
          docs.select(F.col("doc_id"), Multimodal.fakePayload(
            F.substring(F.col("text"), 1, 40)).as("payload")),
          "doc_id", "payload",
          hasher = Multimodal.PerceptualHash.Difference)),
    // the DCT tier: ~16k integer multiply-adds per doc in the scan stage
    // (1024-cell grid + separable 8x8 DCT) — still per-doc-bounded, zero
    // extra shuffle; the row pins that the heavier hasher stays linear
    "phash_dedup (q216)" -> (docs =>
      Multimodal.perceptualDupGroups(
          docs.select(F.col("doc_id"),
            Multimodal.fakePayload(F.col("text")).as("payload")),
          "doc_id", "payload", grid = 32,
          hasher = Multimodal.PerceptualHash.Dct)),
    // Goertzel over a BOUNDED 192-byte window per doc: O(1) work per row
    // in the scan stage, zero shuffle (the (id, band, cell) rows feed
    // the count directly) — the row pins per-doc-bounded linearity
    "spectral_fingerprint (q180)" -> (docs =>
      Multimodal.spectralCells(
        docs.select(F.col("doc_id"),
          Multimodal.fakePayload(F.col("text")).as("payload")),
        "doc_id", "payload")),
    // salted text → salted 40-char payload prefixes: checksum universes
    // are disjoint per replica, dup-group volume grows linearly; only
    // (checksum, id) shuffles and the payload bytes stay in the scan
    "binary_dedup (q135)" -> (docs =>
      Multimodal.binaryDupGroups(
          docs.select(F.col("doc_id"), Multimodal.fakePayload(
            F.substring(F.col("text"), 1, 40)).as("payload")),
          "doc_id", "payload")))

  /** Drills over the replicated EMBEDDINGS corpus (see [[replicateEmb]]).
    * Centroids: each replica's first 16 vectors (the base seed of q124,
    * sign-flipped with its replica), so centroid count grows with N while
    * per-cell population stays the base's — the SemDeDup contract ("more
    * data → more clusters, cells stay small"). */
  def embDrills: Seq[(String, DataFrame => DataFrame)] = Seq(
    // n·d² pair generation inside the scan stage; the one exchange moves
    // d(d+1)/2 partials per partition — the row pins that the shuffle is
    // corpus-size-free and the scan work row-linear (d is fixed)
    "embedding_moments (q176)" -> (emb =>
      Similarity.coMomentMatrix(emb, "embedding")),
    // explode + two exact-percentile aggregations keyed on the d
    // dimensions (output corpus-size-free); the percentile buffers hold
    // each dimension's n values — the documented swap-for-histogram
    // point past memory scale, with the curve below pinning row-linearity
    "embedding_robust_stats (q178)" -> (emb =>
      Similarity.dimensionRobustStats(emb, "embedding")),
    // the q178 swap-for-sketch point DELIVERED (VERDICT r12 #1): per
    // dimension only the bottom-k md5 sample survives the exchange
    // (≤ k rows per (dim, partition)), aggregation memory is a flat
    // k·8 bytes per dimension whatever N — the curve should flatten
    // toward the scan cost while q178's grows with the buffer
    "robust_stats_sketch (q221)" -> (emb =>
      Similarity.dimensionRobustStatsSketch(emb, "vec_id", "embedding",
        k = 512)),
    // sketch-tier outlier audit: the same broadcast-model fold as q194
    // with the stats model built from the bounded sample
    "outliers_sketch (q225)" -> (emb =>
      Similarity.robustOutliers(emb, "vec_id", "embedding", topN = 10,
        sketchK = 512)),
    // stats tier = q178; the apply tier is a broadcast-model fold per
    // vector with the bounded TopK heap as the only corpus-sized exchange
    "embedding_outliers (q194)" -> (emb =>
      Similarity.robustOutliers(emb, "vec_id", "embedding", topN = 10,
        sketchK = 0)),
    // the corpus-scale work is the q176 moment pass (row-linear, O(d²)
    // corpus-free shuffle); the driver-side eigensolve is K·d² integer
    // ops whatever the corpus — the row pins that the whole operator
    // tracks the moment scan
    "principal_direction (q179)" -> (emb =>
      Similarity.principalDirection(emb, "embedding")),
    // FIXED direction (the audit-fixes-its-index discipline): the drill
    // measures the broadcast-model apply — one codegen'd dot per row,
    // zero shuffle, trivially row-linear
    "principal_projection (q182)" -> (emb =>
      Similarity.principalProjection(emb, "vec_id", "embedding",
        Array.tabulate(64)(i => (i + 1).toLong * 1000))),
    "semdedup (q124)" -> { emb =>
      val cents = emb.where(F.pmod(F.col("vec_id"), F.lit(10000000L)) < 16)
        .select(F.col("vec_id").as("cid"), F.col("embedding").as("cv"))
      Similarity.semDedup(emb, "vec_id", "embedding",
        cents, "cid", "cv", threshold = 0.35)
    },
    // fixed probe-query set AND fixed centroid table (the base replica's
    // 1-in-100 ids / first 16 vectors): per corpus row the audit does
    // |queries| truth dots in one scan and |cells| assign dots in the
    // other, both constants — the row pins that audit cost is the two
    // scans, ~linear in corpus. (A centroid table growing WITH the corpus
    // makes assign work quadratic by construction — that regime is
    // measured and explained in the q124 row; an audit fixes its index.)
    "ann_recall (q143)" -> { emb =>
      val queries = emb.where(F.col("vec_id") < 10000000L &&
        F.col("vec_id") % 100 === 0)
      val corpus = emb.where(F.col("vec_id") % 100 =!= 0)
      val cents = corpus.where(F.col("vec_id") < 16)
        .select(F.col("vec_id").as("cid"), F.col("embedding").as("cv"))
      Similarity.annRecallAudit(corpus, "embedding", "vec_id",
        queries, "vec_id", "embedding", cents, "cid", "cv",
        k = 10, nProbe = 2)
    },
    // fixed anchor set, growing corpus: |queries| dots per corpus row in
    // one scan, pools bounded at poolK per anchor — linear in corpus
    "hard_negatives (q144)" -> { emb =>
      val queries = emb.where(F.col("vec_id") < 10000000L &&
        F.col("vec_id") % 100 === 0)
      Similarity.hardNegatives(emb.where(F.col("vec_id") % 100 =!= 0),
        "embedding", "vec_id", queries, "vec_id", "embedding",
        skipK = 10, poolK = 30, m = 5)
    },
    // fixed centroid table (the audit fixes its index, q143 discipline):
    // per corpus row the assign does |cells| dots in one scan; the count
    // aggregate is |cells| rows — the row pins assign-scan linearity
    "cell_balance (q159)" -> { emb =>
      val cents = emb.where(F.col("vec_id") < 16)
        .select(F.col("vec_id").as("cid"), F.col("embedding").as("cv"))
      Similarity.ivfCellBalance(emb, "embedding", "vec_id", cents, "cid", "cv")
    },
    // ADVERSARIAL single hot group: every replica's vectors forced into ONE
    // (group, dim) cell, so group population grows with N. The ppm-sum
    // spelling keeps the aggregation buffer one long regardless — the row
    // pins linearity exactly where the old collect_list spelling held the
    // whole group in one buffer (VERDICT r7 #3)
    "mean_pooling_hot_group (q94)" -> (emb =>
      Similarity.meanVector(
        emb.select(F.lit(0L).as("label"), F.col("embedding")),
        "label", "embedding")))

  /** USER-salted N× replication of the events table: each replica's users
    * are a disjoint universe (`user_id + 10M·rep`), so per-user session /
    * as-of / funnel volume reproduces the base corpus exactly and total
    * work grows linearly by construction — window PARTITIONS multiply,
    * partition SIZE stays the base's, which is the temporal family's
    * scale contract. `ts` is normalized to epoch-µs LONG here (same
    * encoding tolerance as `SparkEntry.events`: ns-as-long, TIMESTAMP, or
    * NTZ-as-UTC) so the drill survives testdata regens. */
  def replicateEvents(events: DataFrame, reps: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val tsUs = events.schema("ts").dataType match {
      case LongType => F.expr("ts DIV 1000")
      case TimestampType => F.unix_micros(F.col("ts"))
      case TimestampNTZType => F.unix_micros(F.col("ts").cast(TimestampType))
      case other => sys.error(s"unexpected events.ts type: $other")
    }
    events.select(F.col("event_id"), tsUs.as("ts_us"), F.col("user_id"),
        F.col("event_type"), F.col("value"))
      .crossJoin(F.broadcast(
        events.sparkSession.range(reps).select(F.col("id").as("__rep"))))
      .select(
        (F.col("event_id") + F.col("__rep") * 10000000000L).as("event_id"),
        F.col("ts_us"),
        (F.col("user_id") + F.col("__rep") * 10000000L).as("user_id"),
        F.col("event_type"), F.col("value"))
  }

  /** Drills over the replicated EVENTS table — the temporal family's
    * measured curve (sessionize / as-of / funnel shapes). All three are
    * one shuffle keyed on user_id with per-user windows; user-salted
    * replication keeps every window base-sized. */
  def eventDrills: Seq[(String, DataFrame => DataFrame)] = Seq(
    // sessionize + bucket-exploded range join back onto the events. The
    // drill TIME-SHIFTS each replica by 31 days (> the data range, rep
    // id recovered from the user salt) so per-instant session
    // concurrency — and hence TRUE pair volume — stays base-sized and
    // the row measures the operator's linear join cost. Un-shifted
    // replication stacks every replica on the same instants: concurrency
    // grows ∝N, qualifying pairs ∝N² — measured 45.8x on the x100
    // decade, the inherent answer-volume regime, not a plan failure
    // (documented in SCALE.md next to the IVF quadratic regime).
    "interval_join (q177)" -> { ev =>
      val shifted = ev.withColumn("ts_us",
        F.col("ts_us") + F.expr("user_id DIV 10000000") * 2678400000000L)
      val sessions = Temporal.sessionize(shifted, "user_id", "ts_us",
          gapTicks = 1800L * 1000000L, tieBreak = "event_id")
        .select(F.col("session_start"), F.col("session_end"))
      Temporal.intervalJoin(shifted.select("event_id", "ts_us"), "ts_us",
          sessions, "session_start", "session_end",
          bucketTicks = 3600L * 1000000L)
        .groupBy("event_id").agg(F.count(F.lit(1)).as("n_active"))
    },
    "sessionize (q58)" -> (ev =>
      Temporal.sessionize(ev, "user_id", "ts_us",
        gapTicks = 1800L * 1000000L, tieBreak = "event_id")),
    // the q223 large×large tier: BOTH sides are fact-sized — the raw
    // event table and a per-user profile derived from it (user
    // cardinality grows with N through the replica salt, so the right
    // side is never broadcastable). The merge hint pins SortMergeJoin;
    // the row pins that the shuffle-join cost tracks the corpus
    // linearly (two key exchanges + sorted streams, no build side)
    "factfact_join (q223)" -> { ev =>
      val profile = ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).as("n_events"))
      Scale.factFactJoin(ev.select("user_id", "event_id"), profile,
          Seq("user_id" -> "user_id"))
        .groupBy("n_events").agg(F.count(F.lit(1)).as("n_rows"))
    },
    "asof_join (q57)" -> { ev =>
      val clicks = ev.where(F.col("event_type") === "click")
        .select("user_id", "ts_us", "event_id")
      val purchases = ev.where(F.col("event_type") === "purchase")
        .select(F.col("user_id"), F.col("ts_us"), F.col("value"))
      Temporal.asofJoinBackward(clicks, purchases, "user_id",
        "ts_us", "ts_us", "value", "last_purchase_value")
    },
    // distinct (map-side combined) + native TopK bounded heap: <= k rows
    // per (group, partition) cross the shuffle regardless of N; salted
    // users grow distinct volume linearly, sketch output stays 5 rows
    "kmv_distinct (q173)" -> (ev =>
      Scale.kmvDistinct(ev, "event_type", "user_id", k = 64)),
    // per-(group, shard) heaps then the k·|shards|-row merge: the same
    // bounded-shuffle contract as kmv_distinct with one extra tiny stage
    "kmv_shard_merge (q181)" -> (ev =>
      Scale.kmvDistinctSharded(ev, "event_type", "user_id",
        F.col("event_id") % 8, k = 48)),
    // sketch tier is the q173 bounded-heap shape; the truth tier's
    // hash self-join moves one row per distinct (type,user) — linear in
    // distinct volume, co-partitioned on the hash
    "kmv_pair_overlap (q183)" -> (ev =>
      Scale.kmvPairOverlap(ev, "event_type", "user_id", k = 64)),
    // two map-side-combined per-key counts + a join that moves one row
    // per DISTINCT key: the forecast costs two count scans, never the
    // join it predicts
    "join_skew_forecast (q184)" -> (ev =>
      Scale.joinSkewForecast(
        ev.where(F.col("event_type").isin("click", "view")),
        ev.where(F.col("event_type") === "purchase"),
        "user_id", "user_id", topN = 5)),
    // two q185 tagged-explode passes (bounded sketches) joined on 5 rows
    "stats_drift (q193)" -> { ev =>
      val p = ev.select(F.col("event_id"), F.col("user_id"), F.col("ts_us"),
        F.round(F.col("value") * 100).cast("long").as("value_cents"),
        F.col("event_type"))
      Scale.columnStatsDrift(
        p.where(F.pmod(F.col("event_id"), F.lit(2L)) === 0L),
        p.where(F.pmod(F.col("event_id"), F.lit(2L)) === 1L),
        bigCols = Seq("event_id", "user_id", "ts_us", "value_cents"),
        strCols = Seq("event_type"), k = 64)
    },
    // one channel-keyed shuffle into per-key ordered windows, then a
    // <=|bands|+1-key aggregate
    "watermark_audit (q191)" -> (ev =>
      graft.functions.Temporal.watermarkAudit(
        ev.select(F.pmod(F.col("event_id"), F.lit(8L)).as("channel"),
          F.concat(
            F.lpad(F.expr("CAST(event_id DIV 256 AS STRING)"), 10, "0"),
            F.md5(F.col("event_id").cast("string"))).as("arrival"),
          F.col("ts_us")),
        "channel", "arrival", "ts_us",
        Seq(0L, 600000000L, 3600000000L))),
    // per pair one map-side-combined (a,b) groupBy; everything downstream
    // runs on the checkpoint-cut joint table (categorical cross-size)
    "dependency_audit (q190)" -> (ev =>
      graft.functions.Stats.dependencyAudit(
        ev.select(F.col("event_type"),
          F.expr("pmod(ts_us DIV 3600000000, 24L)").as("hour_of_day"),
          F.expr("""(CAST(round(value * 100) AS BIGINT)
                     - pmod(CAST(round(value * 100) AS BIGINT), 500))
                    DIV 500""").as("value_band")),
        Seq(("event_type", "hour_of_day"), ("event_type", "value_band"),
          ("hour_of_day", "value_band")))),
    // one map-side-combined quasi-tuple groupBy (the only corpus-sized
    // shuffle) into a <=k-row class aggregate
    "k_anonymity (q189)" -> (ev =>
      graft.functions.Stats.kAnonymityAudit(
        ev.select(F.col("event_type"),
          F.expr("pmod(ts_us DIV 60000000, 1440L)").as("minute_of_day"),
          F.expr("""(CAST(round(value * 100) AS BIGINT)
                     - pmod(CAST(round(value * 100) AS BIGINT), 500))
                    DIV 500""").as("value_band")),
        Seq("event_type", "minute_of_day", "value_band"), k = 5)),
    // (quasi, sensitive) groupBy collapses duplicates before the wire,
    // then per-quasi distinct counts into a <=l-row class aggregate
    "l_diversity (q212)" -> (ev =>
      graft.functions.Stats.lDiversityAudit(
        ev.select(F.col("event_type"),
          F.expr("pmod(ts_us DIV 60000000, 1440L)").as("minute_of_day"),
          F.expr("""(CAST(round(value * 100) AS BIGINT)
                     - pmod(CAST(round(value * 100) AS BIGINT), 500))
                    DIV 500""").as("value_band")),
        Seq("event_type", "minute_of_day"), "value_band", l = 3)),
    // one (quasi, sensitive) groupBy; marginals derive from it, the fold
    // joins on the sensitive key — no second corpus scan
    "t_closeness (q213)" -> (ev =>
      graft.functions.Stats.tClosenessAudit(
        ev.select(F.col("event_type"),
          F.expr("pmod(ts_us DIV 60000000, 1440L)").as("minute_of_day"),
          F.expr("""(CAST(round(value * 100) AS BIGINT)
                     - pmod(CAST(round(value * 100) AS BIGINT), 500))
                    DIV 500""").as("value_band")),
        Seq("event_type", "minute_of_day"), "value_band",
        Seq(200000L, 400000L, 700000L))),
    // manifest tier twice + the shard-filtered row diff; damage RATE is
    // fixed (1/997 etc.) so every shard stays mismatched and the row tier
    // reads the whole corpus — the measured curve is the WORST case
    // (all-shards-corrupt); with bounded damage the diff reads only the
    // damaged shards
    "copy_repair_plan (q188)" -> { ev =>
      val p = ev.select(F.col("event_id"), F.col("user_id"), F.col("ts_us"),
        F.round(F.col("value") * 100).cast("long").as("value_cents"),
        F.col("event_type"))
      val copy = p.where(F.pmod(F.col("event_id"), F.lit(997L)) =!= 0L)
        .withColumn("value_cents",
          F.when(F.pmod(F.col("event_id"), F.lit(991L)) === 0L,
            F.col("value_cents") * 2L + 1L).otherwise(F.col("value_cents")))
        .unionByName(p.where(F.pmod(F.col("event_id"), F.lit(983L)) === 0L)
          .withColumn("event_id", F.col("event_id") + 4000000000L))
      Scale.copyRepairPlan(p, copy, "event_id",
        Seq("event_id", "user_id", "ts_us", "value_cents", "event_type"),
        shards = 16)
    },
    // one scan, all hashing in the scan stage, 16 map-side-combined
    // partials per partition — the whole shuffle is 16·P tiny rows
    "digest_manifest (q187)" -> (ev =>
      Scale.digestManifest(
        ev.select(F.col("event_id"), F.col("user_id"), F.col("ts_us"),
          F.round(F.col("value") * 100).cast("long").as("value_cents"),
          F.col("event_type")),
        idCol = "event_id",
        cols = Seq("event_id", "user_id", "ts_us", "value_cents", "event_type"),
        shards = 16)),
    // sample tier = one bounded distinct-heap TopK scan; audit tier = one
    // more scan with the 7-element boundary array riding as a broadcast
    // literal HOF — two corpus scans, no shuffle beyond the 8-key count
    "range_partition_plan (q186)" -> (ev =>
      Scale.rangePartitionPlan(ev, "user_id", "event_id",
        buckets = 8, k = 256)),
    // one scan exploding each row into |cols| tagged entries; both
    // downstream aggregations combine on |cols| keys
    "column_stats (q185)" -> (ev =>
      Scale.tableColumnStats(
        ev.select(F.col("event_id"), F.col("user_id"), F.col("ts_us"),
          F.round(F.col("value") * 100).cast("long").as("value_cents"),
          F.col("event_type")),
        bigCols = Seq("event_id", "user_id", "ts_us", "value_cents"),
        strCols = Seq("event_type"), k = 64)),
    "funnel (q102)" -> { ev =>
      val clicks = ev.where(F.col("event_type") === "click")
        .select("user_id", "ts_us")
      val purchases = ev.where(F.col("event_type") === "purchase")
        .select(F.col("user_id"), F.col("ts_us"), F.col("ts_us").as("p_ts"))
      val day = 86400L * 1000000L
      Temporal.asofJoinForward(clicks, purchases, "user_id",
          "ts_us", "ts_us", "p_ts", "next_p_ts")
        .agg(F.countDistinct("user_id").as("n_click_users"),
          F.countDistinct(F.when(
            F.col("next_p_ts") - F.col("ts_us") <= day, F.col("user_id")))
            .as("n_converted_users"))
    })

  def pipelineDrill(spark: SparkSession, sfDir: String, sizes: Seq[Int],
                    nameFilter: Option[String] = None): Unit = {
    def pick(fam: Seq[(String, DataFrame => DataFrame)]) = nameFilter match {
      case Some(f) =>
        val pats = f.split(",").map(_.trim).filter(_.nonEmpty)
        fam.filter { case (n, _) => pats.exists(n.contains) }
      case None => fam
    }
    val pickedDocs = pick(drills)
    val pickedEmb = pick(embDrills)
    val pickedEv = pick(eventDrills)
    require(pickedDocs.nonEmpty || pickedEmb.nonEmpty || pickedEv.nonEmpty,
      s"no drill matches $nameFilter")

    /** Replicated-corpus dirs for one family, cached across runs.
      * Trust a cached corpus only if its write completed (_SUCCESS): a
      * partial dir from a killed prior run would silently time a fraction
      * of the intended corpus and record a bogus curve. */
    // cache dirs are keyed by the SOURCE sf dir too: a corpus replicated
    // from an sf0.001 smoke must never be silently reused for an sf0.1
    // curve (same tag, ~100x less data, bogus numbers)
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    def corpusDirs(tag: String, build: Int => DataFrame): Seq[(Int, String)] =
      sizes.map { r =>
        val dir = s"/tmp/graft_scale_${sfTag}_${tag}_x$r"
        val path = java.nio.file.Paths.get(dir)
        val complete = java.nio.file.Files.isRegularFile(path.resolve("_SUCCESS"))
        if (java.nio.file.Files.isDirectory(path) && !complete) {
          System.err.println(s"[scale] discarding partial corpus at $dir")
          graft.util.Fs.deleteRecursively(path)
        }
        if (!complete) {
          build(r).write.parquet(dir)
          System.err.println(s"[scale] wrote $tag x$r corpus to $dir")
        }
        r -> dir
      }

    def timeFamily(picked: Seq[(String, DataFrame => DataFrame)],
                   dirs: Seq[(Int, String)]): Unit = {
      // warm pass on the smallest size (codegen/statics, same discipline as Bench)
      val warm = spark.read.parquet(dirs.head._2)
      picked.foreach { case (_, fn) =>
        try fn(warm).queryExecution.toRdd.count() catch { case _: Throwable => () }
      }
      val results = picked.map { case (name, fn) =>
        val times = dirs.map { case (_, dir) =>
          val df = spark.read.parquet(dir)
          // best of 2 reps — same transient discipline as the recorded bench
          (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            fn(df).queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e9
          }.min
        }
        val ratios = times.tail.zip(times).map { case (b, a) => f"${b / a}%.1fx" }
        println(f"| $name | " + times.map(t => f"$t%.2f").mkString(" | ") +
          " | " + ratios.mkString(", ") + " |")
        name -> times
      }
      dirs.foreach { case (r, dir) =>
        System.err.println(s"[scale] x$r rows=" + spark.read.parquet(dir).count())
      }
      results.foreach { case (name, times) =>
        System.err.println(s"[scale] $name: " + times.map(t => f"$t%.3f").mkString(", "))
      }
    }

    println(f"| pipeline | " + sizes.map(r => f"x$r sec").mkString(" | ") + " | ratios |")
    if (pickedDocs.nonEmpty) {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      timeFamily(pickedDocs, corpusDirs("docs", replicate(base, _)))
    }
    if (pickedEmb.nonEmpty) {
      val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      timeFamily(pickedEmb, corpusDirs("emb", replicateEmb(base, _)))
    }
    if (pickedEv.nonEmpty) {
      // NTZ naive wall-clock reads through the session zone (pinned UTC in
      // main(), same as SparkEntry.events)
      val base = spark.read.parquet(s"$sfDir/events.parquet")
      timeFamily(pickedEv, corpusDirs("events", replicateEvents(base, _)))
    }
  }

  /** Batched-BPE throughput: sequential vs maxMergesPerRound=8 on the real
    * corpus — wall time, rounds, merges/round, and a merge-table parity
    * check (the batched mode must reproduce sequential order exactly). */
  def bpeDrill(spark: SparkSession, sfDir: String, numMerges: Int): Unit = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // warm: a short train fills codegen/statics
    graft.functions.Bpe.train(docs, "text", numMerges = 3).collect()
    val runs = Seq(1, 8).map { m =>
      val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
      val t0 = System.nanoTime()
      val merges = graft.functions.Bpe.train(docs, "text", numMerges = numMerges,
        maxMergesPerRound = m, roundCounter = rounds).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"| maxMergesPerRound=$m | ${merges.length} merges | ${rounds.get()} rounds | " +
        f"${merges.length.toDouble / rounds.get()}%.2f merges/round | $sec%.1f s |")
      merges.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    }
    println(if (runs(0) == runs(1)) "parity: PASS (batched == sequential merge table)"
      else "parity: FAIL")
  }
  /** Hot mega-cluster drill (VERDICT r14 #1 done-criterion): one component
    * of M members, then `addBatches` micro-batches each adding ONE member
    * whose id undercuts the current min — the worst case for the pre-r15
    * design, which rewrote and re-emitted the FULL component per touching
    * batch (O(M) puts + emissions every batch). The r15 delta/lazy fold
    * must stay FLAT: per-batch puts, reads and emissions bounded by a
    * small constant independent of M. Runs the pure fold (no Spark) with
    * the access-counting decorator and REQUIRES the flat bound. */
  def hotClusterDrill(sizes: Seq[Int], addBatches: Int): Unit = {
    sizes.foreach { m =>
      val id = s"drill-hot-$m-${System.nanoTime()}"
      val parents = new graft.state.CountingMapState(
        new graft.state.NonTransactionalMap(
          new graft.state.MemoryBackingMap[Long](s"$id-p")))
      // full production shape: best + journal tiers ride the fold too —
      // the flat-cost REQUIRE below covers the scored face and the
      // journal's O(changes) record, not just the parents map
      val bestM = new graft.state.NonTransactionalMap(
        new graft.state.MemoryBackingMap[(Double, Long)](s"$id-b"))
      val journalM = new graft.state.NonTransactionalMap(
        new graft.state.MemoryBackingMap[Vector[Long]](s"$id-j"))
      val inc = new graft.streaming.IncrementalClusters(parents, Some(bestM),
        Some(journalM))
      val base = 1000000L
      // bootstrap: the mega-cluster arrives as one M-edge batch (star) —
      // the batch ITSELF is O(M), so O(M) cost here is the honest floor
      val star = (1 until m).map(i => (base, base + i)).toArray
      val starQ = star.iterator.flatMap(e => Iterator(e._1, e._2))
        .map(n => n -> ((n % 97).toDouble, n)).toMap
      parents.beginCommit(Some(0L))
      val t0 = System.nanoTime()
      inc.foldEdges(star, parents, starQ, 0L)
      val bootSec = (System.nanoTime() - t0) / 1e9
      parents.commit(Some(0L))
      var maxPuts = 0L; var maxGets = 0L; var maxEmit = 0
      var totSec = 0.0
      (1 to addBatches).foreach { j =>
        // new min member (forces a root change — the old design's O(M)
        // trigger) attached to a rotating existing member
        val edge = Array((base - j, base + (j.toLong * 37L) % m))
        val edgeQ = edge.iterator.flatMap(e => Iterator(e._1, e._2))
          .map(n => n -> ((n % 97).toDouble, n)).toMap
        parents.resetCounts()
        parents.beginCommit(Some(j.toLong))
        val t = System.nanoTime()
        val (emitted, _) = inc.foldEdges(edge, parents, edgeQ, j.toLong)
        totSec += (System.nanoTime() - t) / 1e9
        parents.commit(Some(j.toLong))
        maxPuts = math.max(maxPuts, parents.putKeyCount)
        maxGets = math.max(maxGets, parents.getKeyCount)
        maxEmit = math.max(maxEmit, emitted.size)
      }
      Seq(s"$id-p", s"$id-b", s"$id-j")
        .foreach(graft.state.MemoryBackingMap.clear)
      println(f"[scale] hotcluster M=$m%7d bootstrap=$bootSec%6.3fs  " +
        f"per-batch max: puts=$maxPuts gets=$maxGets emit=$maxEmit  " +
        f"avg=${totSec / addBatches * 1000}%8.4fms")
      require(maxPuts <= 8 && maxEmit <= 6,
        s"hot-cluster per-batch cost not flat at M=$m: puts=$maxPuts " +
        s"emit=$maxEmit — the fold is touching the component again")
    }
  }

  /** Batch-face mega-cluster drill (VERDICT r14 #6): `duplicateClusters`
    * over a pair set holding ONE hot component of 100k×n members (an
    * LSH-realistic near-star — boilerplate docs bucket with the same
    * band keys) plus a uniform background of 2-member pairs. Pins that
    * the per-round lineage cut + min-label propagation stay ~linear in
    * input (no single-task component bottleneck, no iteration blowup:
    * a star converges immediately after the seeded first round). */
  def megaClusterDrill(spark: SparkSession, sizes: Seq[Int]): Unit = {
    sizes.foreach { n =>
      val m = 100000L * n
      val hub = 0L
      val star = spark.range(1L, m).select(
        F.lit(hub).as("a"), F.col("id").as("b"))
      // background: 100k disjoint 2-member clusters, ids strictly above
      // the star's range AT ANY m (a fixed base overlapped the star for
      // user-supplied sizes > 100 and corrupted the fixture)
      val bgBase = m + 1000000L
      val bg = spark.range(100000L).select(
        (F.col("id") * 2L + bgBase).as("a"),
        (F.col("id") * 2L + bgBase + 1L).as("b"))
      val pairs = Lineage.cut(star.unionByName(bg))
      val t0 = System.nanoTime()
      // cut the labels once: countDistinct and the hot-member count are two
      // actions and would otherwise re-run the whole propagation each
      val labels = Lineage.cut(Dedup.duplicateClusters(pairs, "a", "b"))
      val nClusters = labels.select(F.countDistinct("cluster_id")).head().getLong(0)
      val nHot = labels.where(F.col("cluster_id") === hub).count()
      val sec = (System.nanoTime() - t0) / 1e9
      Lineage.release(labels)
      Lineage.release(pairs)
      println(f"[scale] megacluster M=$m%9d sec=$sec%7.2f clusters=$nClusters%7d hot=$nHot%9d")
      require(nHot == m && nClusters == 100001L,
        s"megacluster labels wrong: hot=$nHot clusters=$nClusters")
    }
  }

  /** Distributed-snapshot drill (VERDICT r15 #2): a 10⁷-key durable
    * clustering state read out WITHOUT driver materialization. Builds a
    * disk-tier parents store directly (clusters of 10 with 5-hop chains
    * mixed in — pointer doubling has real work), then requires the
    * distributed face ([[graft.streaming.IncrementalClusters
    * .snapshotDistributed]]) to equal the driver scanAll face
    * EXACTLY (both `except` directions empty), reporting both wall times
    * and the driver-heap delta of the distributed read (flat — the
    * labels never collect). */
  def distSnapDrill(spark: SparkSession, keys: Int): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("distsnap").toString
    try {
      val store = graft.state.DiskBackingMap.open[Long](s"$dir/parents",
        graft.state.DiskBackingMap.nonTransactionalCodec,
        flushAfterKeys = 1 << 20)
      val t0 = System.nanoTime()
      // clusters of 10 (parent = group base); within the first 5 members
      // a CHAIN (i -> i-1 -> ... -> base) instead of a direct link
      (0 until keys).grouped(500000).foreach { chunk =>
        val ks = chunk.map(i => Seq[Any](i.toLong))
        val vs = chunk.map { i =>
          val base = i - (i % 10)
          if (i % 10 != 0 && i % 10 < 5) (i - 1).toLong else base.toLong
        }
        store.multiPut(ks, vs)
      }
      graft.state.DiskBackingMap.compact(s"$dir/parents")
      val buildSec = (System.nanoTime() - t0) / 1e9
      val rt = Runtime.getRuntime
      // heap delta measured around a PURE distributed readout (count only,
      // no persist — local-mode block storage shares this JVM and would
      // pollute the "nothing driver-sized" evidence)
      System.gc()
      val heapBefore = rt.totalMemory() - rt.freeMemory()
      val t1 = System.nanoTime()
      val nDist = graft.streaming.IncrementalClusters
        .snapshotDistributed(spark, dir).count()
      val distSec = (System.nanoTime() - t1) / 1e9
      System.gc()
      val heapAfter = rt.totalMemory() - rt.freeMemory()
      // parity pass reuses one materialization across both excepts
      val dist = Lineage.cut(graft.streaming.IncrementalClusters
        .snapshotDistributed(spark, dir))
      // expected labels: every id labels to its group base
      import org.apache.spark.sql.{functions => FF}
      val expect = spark.range(keys.toLong)
        .select(FF.col("id"), (FF.col("id") - FF.pmod(FF.col("id"), FF.lit(10L)))
          .as("cluster_id"))
      val diff1 = dist.except(expect).count()
      val diff2 = expect.except(dist).count()
      // driver face on the same store, for wall-time contrast
      val inc = new graft.streaming.IncrementalClusters(
        new graft.state.NonTransactionalMap(store))
      val t2 = System.nanoTime()
      val nDriver = inc.snapshot(spark).count()
      val driverSec = (System.nanoTime() - t2) / 1e9
      // the delta is the block-manager-cached label table (localCheckpoint
      // rounds) — executor-resident on a real cluster; the driver itself
      // collects nothing in the distributed face
      println(f"[scale] distsnap keys=$keys build=$buildSec%.1fs " +
        f"distributed=$distSec%.1fs (rows=$nDist, blockstore delta " +
        f"${(heapAfter - heapBefore) >> 20}MiB in-JVM on local mode) " +
        f"driver-face=$driverSec%.1fs (rows=$nDriver) diffs=$diff1/$diff2")
      require(nDist == keys.toLong && diff1 == 0 && diff2 == 0,
        s"distributed labels wrong: n=$nDist diffs=$diff1/$diff2")
      Lineage.release(dist)
    } finally {
      graft.state.DiskBackingMap.close(s"$dir/parents")
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  /** Chain-fold / dead-entry GC drill (VERDICT r15 #5): a long run of
    * successive DETHRONEMENTS (every batch introduces a new minimum id
    * into the same component) is the worst case for the lazy design —
    * each dethroned root keeps a forwarding link, so stored chains grow
    * one hop per dethronement, and (on a non-removable best backing)
    * one dead quality entry accretes per dethroned root.
    * `compactState` must: fold every stored link to its final root (max
    * chain 1), sweep the dead best entries, leave labels identical, and
    * shrink the replayed state to one entry per live id. */
  def chainFoldDrill(spark: SparkSession, dethronements: Int): Unit = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("chainfold").toString
    try {
      // phase 1 runs with best-GC DISABLED (a legacy/non-removable
      // backing) so the sweep has real work to do
      val raw = graft.streaming.IncrementalClusters.durable(dir)
      class NoRemove[T](inner: graft.state.MapState[T])
          extends graft.state.MapState[T] {
        def multiGet(ks: Seq[Seq[Any]]) = inner.multiGet(ks)
        def multiUpdate(ks: Seq[Seq[Any]], us: Seq[graft.state.ValueUpdater[T]]) =
          inner.multiUpdate(ks, us)
        def multiPut(ks: Seq[Seq[Any]], vs: Seq[T]) = inner.multiPut(ks, vs)
        def beginCommit(t: Option[Long]) = inner.beginCommit(t)
        def commit(t: Option[Long]) = inner.commit(t)
        override def scanAll() = inner.scanAll()
        override def supportsRemove = false
      }
      val inc = new graft.streaming.IncrementalClusters(raw.parents,
        raw.best.map(new NoRemove(_)), raw.journal)
      val top = 10000000L
      // batch j: new minimum (top - j) merges with the current component
      (1 to dethronements).foreach { j =>
        inc.applyBatchScored(
          Seq((top - j, top, (j % 97).toDouble, 0.0)).toDF("a", "b", "qa", "qb"),
          "a", "b", "qa", "qb", j.toLong)
      }
      def chainStats(): (Int, Double, Long) = {
        val links = raw.parents.scanAll().map { case (k, v) =>
          k.head.asInstanceOf[Long] -> v.asInstanceOf[Long] }.toMap
        val hops = links.keys.toSeq.map { n =>
          var x = n; var h = 0
          while (links(x) != x) { x = links(x); h += 1 }
          h
        }
        (hops.max, hops.sum.toDouble / hops.size, links.size.toLong)
      }
      val (maxPre, meanPre, ids) = chainStats()
      val bestPre = raw.best.get.scanAll().size
      val labelsPre = raw.snapshot(spark).as[(Long, Long)].collect().toMap
      val t0 = System.nanoTime()
      raw.compactState(dethronements.toLong + 10L)
      val foldSec = (System.nanoTime() - t0) / 1e9
      val (maxPost, meanPost, idsPost) = chainStats()
      val bestPost = raw.best.get.scanAll().size
      val labelsPost = raw.snapshot(spark).as[(Long, Long)].collect().toMap
      // restart: the folded state replays identically
      graft.streaming.IncrementalClusters.closeDurable(dir)
      val re = graft.streaming.IncrementalClusters.durable(dir)
      val labelsReplay = re.snapshot(spark).as[(Long, Long)].collect().toMap
      println(f"[scale] chainfold dethr=$dethronements ids=$ids " +
        f"chains pre(max=$maxPre mean=$meanPre%.1f) post(max=$maxPost mean=$meanPost%.2f) " +
        f"best pre=$bestPre post=$bestPost foldSec=$foldSec%.2f")
      require(maxPre > 100, s"fixture too tame: max chain $maxPre")
      require(maxPost <= 1, s"compactState left chains: max $maxPost")
      require(bestPre > dethronements / 2 && bestPost == 1,
        s"dead best sweep failed: pre=$bestPre post=$bestPost")
      require(labelsPost == labelsPre && labelsReplay == labelsPre,
        "labels changed across compactState/restart")
      require(idsPost == ids, s"parents entries changed: $ids -> $idsPost")
    } finally {
      graft.streaming.IncrementalClusters.closeDurable(dir)
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  /** WAL-growth drill for the durable state tier (VERDICT r14 #7): a
    * long-running incremental-clusters stream (default 200 batches) over
    * [[graft.state.DiskBackingMap]], recording the segment-count curve
    * and the open()-replay time at three points: mid-run (WAL at its
    * natural size under the in-run commit-hook flush), after a forced
    * compaction, and cold. The commit hook must keep the segment count
    * bounded by compactAfter regardless of run length. */
  def walGrowthDrill(spark: SparkSession, batches: Int): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("walgrowth").toString
    import scala.jdk.CollectionConverters._
    def segCount(sub: String): Int = {
      val d = java.nio.file.Paths.get(s"$dir/$sub")
      if (!java.nio.file.Files.exists(d)) 0
      else {
        val s = java.nio.file.Files.list(d)
        try s.iterator().asScala.count(p =>
          p.getFileName.toString.startsWith("seg-")) finally s.close()
      }
    }
    def reopenSec(): (Double, graft.streaming.IncrementalClusters) = {
      graft.streaming.IncrementalClusters.closeDurable(dir)
      val t0 = System.nanoTime()
      val opened = graft.streaming.IncrementalClusters.durable(dir)
      ((System.nanoTime() - t0) / 1e9, opened)
    }
    try {
      var inc = graft.streaming.IncrementalClusters.durable(dir)
      var maxSegs = 0
      import spark.implicits._
      (0 until batches).foreach { j =>
        // each batch: a fresh 3-member cluster + one edge growing cluster 0
        val b = j.toLong * 10L + 1000000L
        val pairs = Seq((b, b + 1), (b + 1, b + 2),
          (0L, j.toLong * 7L % 999L + 1L)).toDF("a", "b")
        inc.applyBatch(pairs, "a", "b", j.toLong)
        maxSegs = math.max(maxSegs, segCount("parents"))
        if (j == batches / 2) {
          val (sec, reopened) = reopenSec()
          println(f"[scale] walgrowth mid-run  batch=$j%4d segs=${segCount("parents")}%4d replay=$sec%6.2fs")
          inc = reopened // the timed open IS the usable handle — no second replay
        }
      }
      val segsEnd = segCount("parents")
      val (replayEnd, _) = reopenSec()
      graft.state.DiskBackingMap.compact(s"$dir/parents")
      graft.state.DiskBackingMap.compact(s"$dir/best")
      graft.state.DiskBackingMap.compact(s"$dir/journal")
      val segsCompacted = segCount("parents")
      val (replayCompacted, inc3) = reopenSec()
      val keys = inc3.snapshot(spark).count()
      println(f"[scale] walgrowth end: batches=$batches maxsegs=$maxSegs segs=$segsEnd replay=$replayEnd%6.2fs; " +
        f"compacted: segs=$segsCompacted replay=$replayCompacted%6.2fs keys=$keys")
      // the in-run commit hook must bound the WAL: one flush cycle's
      // budget (64) plus the puts between commits, never O(batches × puts)
      require(maxSegs <= 80,
        s"WAL grew unbounded: $maxSegs segments — the commit-hook flush is not firing")
      require(segsCompacted == 0, s"forced compaction left $segsCompacted segments")
    } finally {
      graft.streaming.IncrementalClusters.closeDurable(dir)
      graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

}
