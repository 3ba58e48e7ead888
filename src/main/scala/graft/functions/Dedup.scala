package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import graft.util.Lineage

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB regime:
  *
  *  - exact dedup: one hash-shuffle on the fingerprint (not the full text),
  *    map-side combine via partial aggregation;
  *  - MinHash + LSH near-dup: per-row signature (no shuffle), then a
  *    shuffle keyed on small band-bucket ids; candidate verification only
  *    within buckets — never an O(N²) cross join;
  *  - SimHash: per-row 64-bit signature, band-bucketed the same way;
  *  - n-gram Jaccard: exact verification on LSH candidates only.
  *
  * Hash choices are engine-portable (md5 available in both Spark and the
  * DuckDB oracle) on the parity surface; xxhash64 on the perf surface.
  */
object Dedup {

  /** Word-shingle array: k-grams joined by a space. Empty when the document
    * has fewer than k tokens. Native single-pass expression
    * ([[graft.plans.Expressions.ShingleArray]]) — the higher-order
    * `transform`+`slice` formulation interprets its lambda per element and
    * is ~10× slower at corpus scale. */
  def shingles(text: Column, k: Int): Column =
    graft.plans.Expressions.shingleArray(Text.tokens(text), k)

  /** One MinHash value (as a 32-hex-char md5 string; lexicographic min is
    * engine-portable) for hash-function seed `seed`. */
  def minhash(shingleArr: Column, seed: Int): Column =
    F.array_min(F.transform(shingleArr, s => F.md5(F.concat(F.lit(s"$seed|"), s))))

  /** Full signature as `numHashes` columns `mh0..mh{n-1}`: one fused
    * shingle+hash pass per row ([[graft.plans.Expressions.ShingleMinHashMd5]]),
    * identical output to per-seed `min(md5(seed|shingle))`. */
  def minhashSignature(df: DataFrame, textCol: String, k: Int,
                       numHashes: Int): DataFrame = {
    val sig = graft.plans.Expressions.shingleMinhash(
      Text.tokens(F.col(textCol)), k, numHashes)
    df.withColumn("__sig", sig)
      .withColumns((0 until numHashes).map(i =>
        s"mh$i" -> F.element_at(F.col("__sig"), i + 1)).toMap)
      .drop("__sig")
  }

  /** LSH band-bucket ids: bands of `rowsPerBand` consecutive minhashes,
    * hashed together. Docs sharing any band bucket are near-dup candidates;
    * the downstream plan is a per-band shuffle on the (small) bucket id.
    *
    * Degenerate-input guard: a document with fewer than k tokens has a NULL
    * signature ([[minhashSignature]]), and `concat` (unlike `concat_ws`)
    * propagates that null into the band id — so the short-doc population
    * never collapses into one shared md5("")-style mega-bucket. Null bands
    * are then excluded from bucketing in [[lshCandidatePairs]]. */
  def lshBands(df: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val bands = numHashes / rowsPerBand
    df.withColumns((0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => F.col(s"mh$i"))
      val joined = cols.init.flatMap(c => Seq(c, F.lit("|"))) :+ cols.last
      s"band$b" -> F.md5(F.concat(joined: _*))
    }.toMap)
  }

  /** Candidate near-dup pairs from LSH buckets: ONE scan of the banded
    * table (bands exploded with their index into a tagged bucket key), ONE
    * shuffle grouping ids per bucket, pairs emitted within each bucket.
    * Returns (left id, right id) with left < right, distinct across bands.
    *
    * Beats the per-band self-join formulation on both axes that matter at
    * 100 TB: the signature computation runs once instead of 2×bands times
    * (each self-join side re-derived it), and there is a single exchange
    * keyed on bucket ids instead of `bands` joins. The in-bucket pair
    * expansion is safe because LSH bucket cardinality is bounded by
    * construction; the library still guards itself against degenerate
    * collisions (identical signatures en masse) instead of trusting that:
    *
    *  - null bands (sub-k-token docs, [[lshBands]]) never enter a bucket;
    *  - bucket MEMBERSHIP is counted before any id list is materialized, and
    *    buckets over `maxBucketSize` are dropped with a counted drop total
    *    (`observe` metric `graft.lsh` → `dropped_buckets` / `max_bucket`,
    *    logged as a WARN on query completion) — no silent caps, and no
    *    `collect_list` OOM on a poisoned bucket. The cap is a plain Column
    *    predicate, so the bucket-count side stays inside whole-stage
    *    codegen, and re-executions of the plan cannot double-count the
    *    metric the way a side-effecting typed filter would. The size
    *    pre-pass reuses the same hash partitioning on `bk` (count → join →
    *    collect all cluster on one exchange), so the guard costs no extra
    *    shuffle. Caveat: `observe` metrics surface through Dataset actions
    *    (collect/write/foreachBatch); a raw `queryExecution.toRdd` drive
    *    bypasses the listener, so audit pipelines that need the drop list
    *    itself should call [[lshOversizeBuckets]]. */
  def lshCandidatePairs(banded: DataFrame, idCol: String, bands: Int,
      maxBucketSize: Int = 10000): DataFrame = {
    registerDropWarnListener(banded.sparkSession)
    val bandCols = (0 until bands).map(b => F.col(s"band$b"))
    val tagged = banded
      .select(F.col(idCol).as("id"),
        F.posexplode(F.array(bandCols: _*)).as(Seq("bi", "bv")))
      .where(F.col("bv").isNotNull)
      .select(F.col("id"), F.concat_ws("|", F.col("bi"), F.col("bv")).as("bk"))
    val okBuckets = tagged.groupBy("bk").agg(F.count(F.lit(1)).as("__n"))
      .where(F.col("__n") > 1)
      // unique per call: two LSH pipelines composed into one query must not
      // collide on the observation name (it is unique-per-query in Spark)
      .observe(s"graft.lsh.${observeSeq.incrementAndGet()}",
        F.sum(F.when(F.col("__n") > maxBucketSize, 1L).otherwise(0L))
          .as("dropped_buckets"),
        F.max(F.col("__n")).as("max_bucket"))
      .where(F.col("__n") <= maxBucketSize)
      .select("bk")
    tagged.join(okBuckets, "bk")
      .groupBy("bk")
      .agg(F.array_sort(F.collect_list("id")).as("ids"))
      .select(F.explode(F.expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"))
        .as("p"))
      .select(F.col("p.a").as("a"), F.col("p.b").as("b"))
      .distinct()
  }

  /** The buckets [[lshCandidatePairs]] would DROP at this cap — the audit
    * face of the "no silent caps" rule: run it (cheap — one count per
    * bucket, no pair expansion) when the WARN-on-completion channel isn't
    * enough, e.g. pipelines driven through `toRdd` or jobs that must
    * quarantine the poisoned docs rather than just skip them. */
  def lshOversizeBuckets(banded: DataFrame, idCol: String, bands: Int,
      maxBucketSize: Int = 10000): DataFrame = {
    val bandCols = (0 until bands).map(b => F.col(s"band$b"))
    banded
      .select(F.col(idCol).as("id"),
        F.posexplode(F.array(bandCols: _*)).as(Seq("bi", "bv")))
      .where(F.col("bv").isNotNull)
      .select(F.concat_ws("|", F.col("bi"), F.col("bv")).as("bk"))
      .groupBy("bk").agg(F.count(F.lit(1)).as("n_members"))
      .where(F.col("n_members") > maxBucketSize)
  }

  /** Sessions that already carry the `graft.*` drop-WARN listener — the
    * listener itself is passive (fires only when a query with the named
    * observation completes), so one per session is enough. Shared with
    * [[Similarity.semDedup]]'s cell cap (same counted-drop discipline). */
  private[functions] val observeSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  // weak keys: a stopped session must stay collectable — a static strong
  // set would leak every session (plus its listener graph) for the JVM
  // lifetime in apps that cycle sessions
  private val dropWarnRegistered =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()))

  private[functions] def registerDropWarnListener(spark: org.apache.spark.sql.SparkSession): Unit =
    if (dropWarnRegistered.add(spark)) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            val src =
              if (name.startsWith("graft.lsh")) Some("lshCandidatePairs", "bucket")
              else if (name.startsWith("graft.semdedup")) Some("semDedup", "cell")
              else None
            src.foreach { case (fn, unit) =>
              val dropped = if (row.isNullAt(0)) 0L else row.getLong(0)
              if (dropped > 0)
                org.slf4j.LoggerFactory.getLogger("graft.functions.Dedup").warn(
                  s"$fn: dropped $dropped degenerate $unit(s) over the size cap " +
                    s"(largest seen: ${row.get(1)} members) — pairs from them are NOT emitted")
            }
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      })
    }

  /** Exact n-gram Jaccard similarity between two shingle arrays — the
    * verification step applied to LSH candidates only. */
  def jaccard(aShingles: Column, bShingles: Column): Column = {
    val a = F.array_distinct(aShingles)
    val b = F.array_distinct(bShingles)
    val inter = F.size(F.array_intersect(a, b)).cast("double")
    val union = F.size(F.array_union(a, b)).cast("double")
    F.when(union > 0, inter / union).otherwise(F.lit(0.0))
  }

  /** End-to-end MinHash/LSH near-dup: signature → bands → candidates →
    * Jaccard verification ≥ `threshold`. The only shuffles are the band
    * self-joins and the two id-equi-joins to re-attach shingles. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
                   numHashes: Int = 8, rowsPerBand: Int = 2,
                   threshold: Double = 0.7): DataFrame = {
    // signature computed ONCE and lineage-cut (r16): the candidate stage's
    // bucket-count guard and its collect side are two subplans, and the
    // un-cut spelling re-ran the fused shingle+minhash pass (the dominant
    // per-row cost) once per subplan — the same discipline
    // minhashCalibration and simhashNearPairs already apply. Only
    // (id, mh0..mhN) is materialized — ids + 32-char hashes, never text
    // or shingle payloads, so the 100 TB storage posture is unchanged.
    // LAZY cut: materializes inside the first job that touches it and both
    // candidate subtrees then read the cache — an eager cut pays a separate
    // blocking job per call, which q141 (nearDupPairs over a 1/16 sample,
    // where the saved recompute is small) measured as a +0.3 s regression.
    val sig = Lineage.cut(minhashSignature(df.select(F.col(idCol), F.col(textCol)),
        textCol, k, numHashes)
      .select(F.col(idCol) +: (0 until numHashes).map(i => F.col(s"mh$i")): _*),
      eager = false)
    val withSig = lshBands(sig, numHashes, rowsPerBand)
    val cands = lshCandidatePairs(withSig, idCol, numHashes / rowsPerBand)
    // Verification: shingles are computed in the SCAN stage of each attach
    // join side, corpus-wide. The "shingle only the candidates" reorder
    // (join text to the pairs, shingle post-join) was tried in r17 and
    // measured SLOWER at sf0.1 (q39 1.01 → 1.32 s, q74 1.64 → 2.04, q60
    // 1.30 → 1.62): the scan-stage pass is one fused codegen pipeline over
    // parquet, while post-join shingling re-tokenizes per PAIR side (a doc
    // in p pairs pays p×) and puts text payloads on the join's build side.
    // Reverted — revisit only if candidate density at production scale is
    // far below the sf0.1 ~1-pair-per-doc regime.
    val sh = df.select(F.col(idCol), shingles(F.col(textCol), k).as("__sh"))
    cands
      .join(sh.select(F.col(idCol).as("a"), F.col("__sh").as("sha")), "a")
      .join(sh.select(F.col(idCol).as("b"), F.col("__sh").as("shb")), "b")
      .withColumn("jaccard", jaccard(F.col("sha"), F.col("shb")))
      .where(F.col("jaccard") >= threshold)
      .select(F.col("a"), F.col("b"), F.col("jaccard"))
  }

  /** LSH parameter audit: measured RECALL of the banded-candidate stage
    * against ground truth, on a deterministic hash sample — the tuning
    * step run BEFORE committing (k, numHashes, rowsPerBand, threshold) to
    * a 100 TB pass. Ground truth is EXACT Jaccard within the sample,
    * found by GRAM BLOCKING rather than an all-pairs loop: a pair with
    * Jaccard ≥ threshold > 0 shares at least one distinct k-shingle, so
    * joining the sample's (gram, id) postings on gram is provably
    * complete — and the Jaccard itself is then computed ARITHMETICALLY
    * from the pair's shared-gram count and the two per-doc distinct-gram
    * sizes (`j = shared/(na+nb−shared)`), no per-pair set intersection at
    * all. Blocking cost is Σ df(gram)² within the sample — bounded by the
    * CHOSEN sample size, and on real text far below it (grams are mostly
    * rare). The LSH side runs the exact production path
    * ([[nearDupPairs]]) on the same sample; since verification applies
    * the same threshold, the verified LSH output IS the caught subset of
    * truth — `recall_ppm = caught·1e6 DIV truth`, and the
    * pre-verification candidate count gives candidate precision (how much
    * verification work the bands create per true pair). One row out:
    * (sampled_docs, truth_pairs, candidate_pairs, caught_pairs,
    * recall_ppm, candidate_precision_ppm); rate columns are NULL on a
    * degenerate sample (no truth / no candidates) rather than an ANSI
    * divide-by-zero. */
  def lshRecallAudit(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 4, rowsPerBand: Int = 2,
      threshold: Double = 0.05, sampleMod: Long = 16L): DataFrame = {
    require(sampleMod > 0, s"sampleMod must be positive, got $sampleMod")
    // the sample feeds three subplans (truth, candidates, verified) — cut
    // it once so the corpus scans once, not three times
    val sample = Lineage.cut(df
      .where(graft.plans.Expressions.md5Bucket(
        F.concat(F.lit("s|"), F.col(idCol).cast("string")), sampleMod) === 0L)
      .where(Text.tokenCount(F.col(textCol)) >= k)
      .select(F.col(idCol), F.col(textCol)))
    val d = sample.select(F.col(idCol).as("id"),
      F.array_distinct(shingles(F.col(textCol), k)).as("ds"))
    val sz = d.select(F.col("id"), F.size(F.col("ds")).cast("long").as("n"))
    val ex = d.select(F.col("id"), F.explode(F.col("ds")).as("g"))
    val pairShared = ex.select(F.col("id").as("a"), F.col("g").as("__g"))
      .join(ex.select(F.col("id").as("b"), F.col("g").as("__g")), "__g")
      .where(F.col("a") < F.col("b"))
      .groupBy("a", "b").agg(F.count(F.lit(1)).as("shared"))
    // denominator ≥ max(na, nb) ≥ 1 (k-token filter above), so no 0-div
    val truth = pairShared
      .join(sz.select(F.col("id").as("a"), F.col("n").as("na")), "a")
      .join(sz.select(F.col("id").as("b"), F.col("n").as("nb")), "b")
      .where(F.col("shared").cast("double") /
        (F.col("na") + F.col("nb") - F.col("shared")).cast("double")
        >= threshold)
      .select("a", "b")
    val banded = lshBands(minhashSignature(sample, textCol, k, numHashes),
      numHashes, rowsPerBand)
    val candidates = lshCandidatePairs(banded, idCol, numHashes / rowsPerBand)
    // caught = the verification stage applied to the SAME candidate plan
    // (r16): calling nearDupPairs here built a structurally different
    // candidate subtree (its lineage-cut signature vs this local one), so
    // Spark's exchange reuse could no longer dedup the two candidate
    // stages and the bucket grouping ran twice. Verifying `candidates` in
    // place keeps one canonical subtree — identical caught_pairs, the
    // subplan nearDupPairs itself appends after its candidate stage.
    val sh = sample.select(F.col(idCol), shingles(F.col(textCol), k).as("__sh"))
    val caught = candidates
      .join(sh.select(F.col(idCol).as("a"), F.col("__sh").as("sha")), "a")
      .join(sh.select(F.col(idCol).as("b"), F.col("__sh").as("shb")), "b")
      .where(jaccard(F.col("sha"), F.col("shb")) >= threshold)
      .select("a", "b")
    val one = (d: DataFrame, name: String) =>
      d.agg(F.count(F.lit(1)).as(name))
    one(sample, "sampled_docs")
      .crossJoin(one(truth, "truth_pairs"))
      .crossJoin(one(candidates, "candidate_pairs"))
      .crossJoin(one(caught, "caught_pairs"))
      .withColumn("recall_ppm", F.when(F.col("truth_pairs") =!= 0L,
        F.expr("caught_pairs * 1000000L DIV truth_pairs")))
      .withColumn("candidate_precision_ppm",
        F.when(F.col("candidate_pairs") =!= 0L,
          F.expr("caught_pairs * 1000000L DIV candidate_pairs")))
  }

  /** Per-document content novelty: what fraction of a document's distinct
    * k-grams appear for the FIRST time at that document, in corpus id
    * order. The incremental-value signal between exact dedup (novelty 0 =
    * a pure re-shuffle of seen text) and near-dup (a doc can dodge every
    * similarity tier yet contribute nothing new); also the marginal-gain
    * curve for "how much does ingesting source X actually add".
    *
    * Scale shape: one (gram, id) explode feeding a gram-keyed min
    * (map-side combined) and a gram-keyed join back — the gram table is
    * built once and lineage-cut; only 32-char-bounded grams + ids move,
    * text stays in its scan. The ×1e6 is per-doc bounded (a doc's own
    * gram count), so plain BIGINT. Docs with fewer than k tokens have no
    * grams and are absent from the output. */
  def contentNovelty(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val grams = Lineage.cut(df.select(F.col(idCol),
      F.explode(F.array_distinct(shingles(F.col(textCol), k))).as("__g")))
    val first = grams.groupBy("__g").agg(F.min(idCol).as("__first"))
    grams.join(first, "__g")
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_grams"),
        F.sum(F.when(F.col("__first") === F.col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_ppm", F.expr("n_novel * 1000000L DIV n_grams"))
  }

  /** Incremental novelty against a BASE corpus: for each candidate
    * document, the fraction of its distinct k-grams absent from the base
    * — the "is this crawl worth ingesting" number. [[contentNovelty]]
    * ranks documents within one corpus; this values a NEW batch against
    * what the pipeline already holds, per document (the doc-level score
    * [[crossCorpusDedup]]'s binary dup flag collapses away).
    *
    * Scale shape: the base contributes only its DISTINCT gram set, and
    * the probe is a gram-keyed left join marking presence — the exact
    * mirror of [[crossCorpusDedup]]'s keyed join (non-broadcast: the
    * base is corpus-sized). Only gram strings and ids shuffle; at 100 TB
    * store the base side as a bucketed gram table so re-probes skip its
    * shuffle entirely. */
  def incrementalNovelty(newDf: DataFrame, baseDf: DataFrame, idCol: String,
      textCol: String, k: Int = 3): DataFrame = {
    val baseGrams = baseDf
      .select(F.explode(F.array_distinct(shingles(F.col(textCol), k))).as("__g"))
      .distinct()
      .withColumn("__seen", F.lit(1L))
    newDf
      .select(F.col(idCol),
        F.explode(F.array_distinct(shingles(F.col(textCol), k))).as("__g"))
      .join(baseGrams, Seq("__g"), "left")
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_grams"),
        F.sum(F.when(F.col("__seen").isNull, 1L).otherwise(0L)).as("n_new"))
      .withColumn("novelty_ppm", F.expr("n_new * 1000000L DIV n_grams"))
  }

  /** First-occurrence sentence dedup (the C4 policy): a sentence repeated
    * anywhere in the corpus survives ONLY at its first occurrence — the
    * (min doc_id, min pos) site — and is dropped everywhere else.
    * [[maskDuplicatedSpans]] masks EVERY occurrence of a repeated window
    * (right for boilerplate that should vanish entirely); this keeps one
    * copy, the right call for content sentences that happen to be quoted
    * around. Returns (id, n_sents, n_kept, clean_text).
    *
    * Scale shape: one (sentence → min site) aggregate and one
    * sentence-keyed join back — sentences and (id, pos) pairs shuffle,
    * never whole documents; reassembly is a per-doc bounded sort fold
    * (document length), the q79 sequence-pack discipline. At 100 TB,
    * fingerprint the sentence (md5) for the shuffle key exactly as the
    * span-mask path does — kept as plain text here so the oracle pins
    * the policy itself. */
  def dedupSentencesKeepFirst(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val sents = df.select(F.col(idCol),
      F.posexplode(F.split(F.col(textCol), "\\. ")).as(Seq("pos", "sent")))
    val first = sents.groupBy("sent")
      .agg(F.min(F.struct(F.col(idCol), F.col("pos"))).as("__f"))
    sents.join(first, "sent")
      .withColumn("__keep",
        F.struct(F.col(idCol), F.col("pos")) === F.col("__f"))
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_sents"),
        F.sum(F.when(F.col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        F.array_join(F.transform(
          F.filter(
            F.array_sort(F.collect_list(F.struct(F.col("pos"),
              F.col("__keep").as("k"), F.col("sent").as("s")))),
            x => x.getField("k")),
          x => x.getField("s")), ". ").as("clean_text"))
  }

  /** Cluster-size histogram over a [[duplicateClusters]] labeling: for
    * each cluster SIZE, how many clusters have it and how many documents
    * they hold. This is the shape that decides the dedup strategy's
    * payoff — a corpus whose mass sits in a few giant clusters (template
    * farms, mirror sites) dedups to a fraction of its size, one whose
    * histogram is all 2s barely shrinks — and the giant-cluster tail is
    * the skew the per-cluster resolution steps must survive.
    *
    * Scale shape: two count aggregates — (cluster → size) over label
    * rows, then (size → n_clusters) over cluster rows — each strictly
    * smaller than its input; nothing corpus-sized leaves the first
    * map-side-combined count. */
  def clusterSizeHistogram(clusters: DataFrame, clusterCol: String): DataFrame =
    clusters.groupBy(clusterCol).agg(F.count(F.lit(1)).as("__cs"))
      .groupBy(F.col("__cs").as("cluster_size"))
      .agg(F.count(F.lit(1)).as("n_clusters"))
      .withColumn("n_docs", F.col("cluster_size") * F.col("n_clusters"))

  /** Cross-source duplication matrix: verified near-dup pairs rolled up
    * by the (unordered) source pair — which sources copy from which. The
    * provenance question behind mixture design: an off-diagonal spike
    * means two "independent" sources share a crawl ancestry and their
    * mixture weights double-count the same text; the diagonal is each
    * source's internal redundancy.
    *
    * Scale shape: the pair list is [[nearDupPairs]]' banded-LSH output
    * (bucketed, capped — never all-pairs); attaching sources is two
    * id-keyed joins against an (id, source) projection — text never
    * moves; the final aggregate is |sources|² rows. */
  def crossSourceDupMatrix(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, k: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.7): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, k, numHashes, rowsPerBand,
      threshold).select("a", "b")
    val src = df.select(F.col(idCol).as("__id"), F.col(sourceCol).as("__src"))
    pairs
      .join(src.select(F.col("__id").as("a"), F.col("__src").as("__sa")), "a")
      .join(src.select(F.col("__id").as("b"), F.col("__src").as("__sb")), "b")
      .groupBy(
        F.least(F.col("__sa"), F.col("__sb")).as("src_a"),
        F.greatest(F.col("__sa"), F.col("__sb")).as("src_b"))
      .agg(F.count(F.lit(1)).as("n_pairs"))
  }

  /** MinHash estimator calibration — the companion audit to
    * [[lshRecallAudit]]: for each signature-AGREEMENT level (0..numHashes
    * matching components), how the TRUE Jaccard of candidate pairs
    * distributes. The estimator's whole premise is
    * `P(mh_i(a) = mh_i(b)) = J(a,b)`; this table shows, at the chosen
    * `numHashes`, how tight that is in practice — the direct input to
    * "do I need 8 hashes or 64" before a corpus-scale pass.
    *
    * All-integer output (no float sums): per pair, exact Jaccard in ppm
    * from intersection/union COUNTS (per-doc bounded, so plain BIGINT),
    * then per-level n / mean / min / max. Candidate pairs come from the
    * production banding path ([[lshCandidatePairs]], same caps), so the
    * table describes exactly the population the dedup will see.
    * Scale shape: the signature frame is computed once and lineage-cut
    * (it feeds the banding and both pair sides); only ids, signatures and
    * shingle arrays of CANDIDATE pairs move; the output is at most
    * `numHashes+1` rows. */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
      maxBucketSize: Int = 10000): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val sigCols = (0 until numHashes).map(i => F.col(s"mh$i"))
    val sigd = Lineage.cut(minhashSignature(df.select(F.col(idCol), F.col(textCol)),
      textCol, k, numHashes))
    val withSig = lshBands(sigd, numHashes, rowsPerBand)
    val cands = lshCandidatePairs(withSig, idCol, numHashes / rowsPerBand,
      maxBucketSize)
    val side = sigd.select(F.col(idCol),
      F.array_distinct(shingles(F.col(textCol), k)).as("__sh"),
      F.array(sigCols: _*).as("__mhs"))
    cands
      .join(side.select(F.col(idCol).as("a"), F.col("__sh").as("sha"),
        F.col("__mhs").as("mha")), "a")
      .join(side.select(F.col(idCol).as("b"), F.col("__sh").as("shb"),
        F.col("__mhs").as("mhb")), "b")
      .select(
        F.expr("aggregate(zip_with(mha, mhb, (x, y) -> CASE WHEN x = y THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (acc, v) -> acc + v)")
          .as("n_agree"),
        // candidates always hold >= k tokens (null bands never bucket), so
        // the union is non-empty and the ANSI division cannot hit zero
        F.expr("CAST(size(array_intersect(sha, shb)) AS BIGINT) * 1000000 DIV CAST(size(array_union(sha, shb)) AS BIGINT)")
          .as("exact_ppm"))
      .groupBy("n_agree")
      .agg(F.count(F.lit(1)).as("n_pairs"),
        F.sum("exact_ppm").as("__sum"),
        F.min("exact_ppm").as("min_exact_ppm"),
        F.max("exact_ppm").as("max_exact_ppm"))
      .select(F.col("n_agree"),
        F.expr(s"n_agree * 1000000 DIV ${numHashes}L").as("est_ppm"),
        F.col("n_pairs"),
        F.expr("__sum DIV n_pairs").as("mean_exact_ppm"),
        F.col("min_exact_ppm"), F.col("max_exact_ppm"))
  }

  /** 64-bit SimHash over token xxhash64s: weighted bit-majority vote,
    * entirely Column-tier (sequence(0,63) bit loop → codegen). Near-dups =
    * small Hamming distance; bucket on rotated prefixes for search. */
  def simhash64(text: Column): Column =
    graft.plans.Expressions.simhash64(Text.tokens(text))

  /** Oracle-portable SimHash (md5 60-bit token hashes) — same structure,
    * engine-reproducible; prefer [[simhash64]] off the parity path. */
  def simhashPortable(text: Column): Column =
    graft.plans.Expressions.simhashMd5(Text.tokens(text))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    F.bit_count(a.bitwiseXOR(b)).cast("long")

  /** SimHash near-dup pairs at scale: all pairs with Hamming distance
    * <= `maxHamming` on the 60-bit portable signature, found WITHOUT an
    * all-pairs join. Pigeonhole: split the signature into `maxHamming+1`
    * disjoint bit bands — any pair within distance d must agree EXACTLY on
    * at least one band — so banding is provably complete; candidates
    * equi-join on (band index, band value) and an exact [[hamming64]]
    * check verifies. Returns (a, b, hamming) with a < b.
    *
    * Scale shape: signatures are computed once in the scan stage and
    * lineage-cut (id + one long per doc — text never shuffles); the
    * candidate stage reuses [[lshCandidatePairs]]' single-exchange bucket
    * machinery including the counted oversize-bucket cap (a degenerate
    * band value shared by > `maxBucketSize` docs — e.g. the all-zeros
    * signature of empty docs — drops with a WARN total, never expands
    * quadratically). Band width = 60/(maxHamming+1) bits: wider bands
    * (small d) give sparser buckets; past d=5 the 10-bit bands start
    * colliding on volume — use winnowing/minhash tiers for looser
    * similarity instead. */
  def simhashNearPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    val nBands = maxHamming + 1
    require(maxHamming >= 0 && 60 % nBands == 0,
      s"maxHamming+1 must divide 60, got $maxHamming")
    val width = 60 / nBands
    val mask = (1L << width) - 1
    // reused three times (band build + both verify sides): cut once
    val sigs = Lineage.cut(df.select(F.col(idCol).as("id"),
      simhashPortable(F.col(textCol)).as("__sig")))
    val banded = sigs.withColumns((0 until nBands).map { i =>
      s"band$i" -> F.expr(s"(__sig >> ${i * width}) & ${mask}L")
    }.toMap)
    lshCandidatePairs(banded, "id", nBands, maxBucketSize)
      .join(sigs.select(F.col("id").as("a"), F.col("__sig").as("__sa")), "a")
      .join(sigs.select(F.col("id").as("b"), F.col("__sig").as("__sb")), "b")
      .withColumn("hamming", hamming64(F.col("__sa"), F.col("__sb")))
      .where(F.col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }

  /** Dedup-method agreement audit: given two candidate/verified PAIR sets
    * (e.g. minhash-LSH vs SimHash over the same corpus), one row of set
    * arithmetic — how much of each method's output the other reproduces.
    * The cheap sanity check before trusting a single method's recall at
    * 100 TB: two methods with near-zero overlap are measuring different
    * similarity notions, not confirming each other.
    *
    * Implementation is the union-tag shape (same discipline as
    * [[corpusDiff]]): tag each set, one hash aggregate on the pair key,
    * flags max-combine — no full-outer join. Pairs are normalized to
    * a < b so orientation differences can't split a pair. Output:
    * (n_left, n_right, n_both, agreement_ppm) where agreement is Jaccard
    * of the two pair SETS; NULL when both sets are empty. */
  def pairSetAgreement(left: DataFrame, right: DataFrame,
      aCol: String = "a", bCol: String = "b"): DataFrame = {
    def norm(df: DataFrame, tag: Int): DataFrame = df.select(
      F.least(F.col(aCol), F.col(bCol)).as("__a"),
      F.greatest(F.col(aCol), F.col(bCol)).as("__b"),
      F.lit(tag).as("__t"))
    norm(left, 0).unionByName(norm(right, 1))
      .groupBy("__a", "__b")
      .agg(F.max(F.when(F.col("__t") === 0, 1L).otherwise(0L)).as("__l"),
        F.max(F.when(F.col("__t") === 1, 1L).otherwise(0L)).as("__r"))
      .agg(F.sum("__l").as("n_left"), F.sum("__r").as("n_right"),
        F.sum(F.expr("__l * __r")).as("n_both"))
      .select(F.col("n_left"), F.col("n_right"), F.col("n_both"),
        F.when(F.col("n_left") + F.col("n_right") - F.col("n_both") =!= 0L,
          F.expr("n_both * 1000000L DIV (n_left + n_right - n_both)"))
          .as("agreement_ppm"))
  }

  /** Winnowing fingerprint set (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the MOSS algorithm): md5 per k-gram, minimum per sliding window of
    * `w` hashes, distinct selections sorted. The LOCAL-overlap tier of the
    * dedup story: two docs sharing any token run of >= w + k - 1 tokens
    * share a fingerprint, which whole-document fingerprints
    * ([[Text.fingerprintMd5]]) and set-similarity signatures (minhash —
    * global resemblance, not containment) both miss. Null when fewer than
    * k tokens. Native single-pass expression
    * ([[graft.plans.Expressions.WinnowMd5]], monotonic min-deque — the
    * higher-order-function spelling pays `w` interpreted lambda evals per
    * gram). */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    graft.plans.Expressions.winnowMd5(Text.tokens(text), k, w)

  /** Column-tier (transform/slice/array_min) spelling of
    * [[winnowFingerprints]] — the executable spec the native expression is
    * parity-tested against (DedupSpec); not the production path. */
  def winnowFingerprintsColumns(text: Column, k: Int, w: Int): Column = {
    val hs = F.transform(shingles(text, k), x => F.md5(x))
    val m = F.size(hs)
    val mins = F.when(m <= w, F.array(F.array_min(hs)))
      .otherwise(F.transform(F.sequence(F.lit(1), m - F.lit(w) + 1),
        i => F.array_min(F.slice(hs, i, F.lit(w)))))
    F.when(F.size(Text.tokens(text)) >= k,
      F.array_sort(F.array_distinct(mins)))
  }

  /** Partial-overlap candidate pairs: docs sharing >= `minShared` winnow
    * fingerprints, with the shared count. One explode + one shuffle keyed
    * on the fingerprint — ids only, text never moves — with the same
    * oversize-bucket discipline as [[lshCandidatePairs]]: a fingerprint
    * shared by more than `maxBucketSize` docs (boilerplate headers, empty
    * templates) is dropped from pairing rather than expanded
    * quadratically; audit the drops with [[winnowOversizeBuckets]]. */
  def winnowOverlapCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Long = 1L,
      maxBucketSize: Int = 10000): DataFrame = {
    // the fps subtree feeds BOTH the bucket-size filter and the join probe
    // side — without a cut Spark recomputes the winnow scan (md5 per k-gram
    // over the full text, the dominant cost) twice. The materialized frame
    // is tiny: (id, 32-char fp) pairs only, the text never leaves its scan.
    val fps = Lineage.cut(df
      .select(F.col(idCol).as("id"),
        F.explode(winnowFingerprints(F.col(textCol), k, w)).as("fp")))
    val okFps = fps.groupBy("fp").agg(F.count(F.lit(1)).as("__n"))
      .where(F.col("__n") > 1 && F.col("__n") <= maxBucketSize)
      .select("fp")
    fps.join(okFps, "fp")
      .groupBy("fp")
      .agg(F.array_sort(F.collect_list("id")).as("ids"))
      .select(F.explode(F.expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"))
        .as("p"))
      .groupBy(F.col("p.a").as("a"), F.col("p.b").as("b"))
      .agg(F.count(F.lit(1)).as("n_shared"))
      .where(F.col("n_shared") >= minShared)
  }

  /** Streaming LSH candidate pairs — the incremental face of
    * [[lshCandidatePairs]]: documents arrive on a stream, minhash band
    * signatures are computed in the scan (stateless row maps — the same
    * fused `shingle_minhash` expression as batch), and per-band membership
    * lives in the state store ([[graft.streaming.StateStoreRunner.BandBucketProcessor]]
    * — ids only, capped at `maxBucketSize`, first-seen-wins). Each arrival
    * emits candidate pairs against the band's existing members; the
    * cross-band duplicate pair is collapsed by a stateful distinct.
    * Downstream exact verification (jaccard / containment on the pair
    * stream) is a stream-static or foreachBatch join — candidates never
    * expand past the bucket cap, matching the batch discipline.
    *
    * Cap semantics differ from batch BY NECESSITY (documented on the
    * processor): batch drops oversize buckets retroactively; the stream
    * stops pairing at the cap but cannot retract pairs already emitted. */
  def streamingLshCandidates(stream: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
      maxBucketSize: Int = 1000,
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val withSig = lshBands(minhashSignature(stream, textCol, k, numHashes),
      numHashes, rowsPerBand)
    val spark = stream.sparkSession
    import spark.implicits._
    withSig.select(F.explode(F.array((0 until numBands).map(b =>
        F.struct(F.concat(F.lit(s"$b|"), F.col(s"band$b")).as("bk"),
          F.col(idCol).cast("long").as("id"))): _*)).as("e"))
      .select("e.bk", "e.id").as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new graft.streaming.StateStoreRunner.BandBucketProcessor(maxBucketSize, ttl),
        graft.streaming.StateStoreRunner.ttlTimeMode(ttl),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF("a", "b")
      .dropDuplicates("a", "b")
  }

  /** Fuzzy duplicate pairs over a string column via SymSpell-style
    * DELETION-NEIGHBORHOOD blocking: each distinct value explodes into
    * itself plus every single-character deletion; two values within edit
    * distance 1 PROVABLY share a variant (substitution: delete the
    * differing position from both; insert/delete: the deletion of the
    * inserted char IS the shorter string), so candidates = pairs sharing a
    * variant key, verified with exact `levenshtein`. Completeness is
    * oracle-checked against a brute-force all-pairs join.
    *
    * Scale shape: the pair universe is the DISTINCT-value vocabulary
    * (entity canonicalization), never the row count; one explode (L+1
    * variants per value) + one variant-keyed shuffle; a variant bucket is
    * STRUCTURALLY bounded — only strings within insert-distance 1 of `v`
    * (≤ (|v|+1)·|alphabet| + 1 of them) can land in `v`'s bucket, so no
    * boilerplate-style bucket cap is needed. */
  def fuzzyDupPairs(df: DataFrame, strCol: String, maxDist: Int = 1): DataFrame = {
    require(maxDist == 1, "deletion blocking is implemented for maxDist = 1")
    val names = df.select(F.col(strCol).cast("string").as("name"))
      .where(F.col("name").isNotNull).distinct()
    val len = F.length(F.col("name"))
    val dels = F.when(len > 0,
        F.transform(F.sequence(F.lit(1), len), i =>
          F.concat(F.col("name").substr(F.lit(1), i - F.lit(1)),
            F.col("name").substr(i + F.lit(1), len - i))))
      .otherwise(F.array())
    val variants = names.select(F.col("name"),
      F.explode(F.array_distinct(F.concat(F.array(F.col("name")), dels))).as("v"))
    variants.as("l")
      .join(variants.as("r"),
        F.col("l.v") === F.col("r.v") && F.col("l.name") < F.col("r.name"))
      .select(F.col("l.name").as("a"), F.col("r.name").as("b")).distinct()
      .withColumn("dist", F.levenshtein(F.col("a"), F.col("b")).cast("long"))
      .where(F.col("dist") <= maxDist)
  }

  /** Containment near-dup pairs: symmetric resemblance ([[nearDupPairs]])
    * misses SUBSET duplication — a 50-token doc quoted whole inside a
    * 500-token doc has Jaccard ≈ 0.1 but containment ≈ 1.0 (Broder's
    * containment coefficient |S(A)∩S(B)| / |S(A)|). Candidates come from
    * shared winnow fingerprints — winnowing guarantees any shared token
    * run of length ≥ w+k-1 shares one, exactly the long-run shape
    * containment implies — then exact k-gram containment is computed on
    * candidates only, reported against the SMALLER gram set (the
    * potentially-contained side).
    *
    * Output (a, b, n_common, n_a, n_b, containment_ppm) with
    * containment_ppm = ⌊1e6·n_common / min(n_a,n_b)⌋ — integer ppm, so the
    * value is engine-exact (no float fold drift).
    *
    * Scale shape: candidate generation is the winnow explode (ids+32-char
    * fps only, bucket-capped — no all-pairs anywhere); the exact pass joins
    * distinct-gram arrays for CANDIDATE ids only. Text leaves its scan
    * stage only as the per-doc gram array.
    * Reference scope: storm-core has no similarity tooling; this extends
    * the LSH/winnow dedup family the training-data pipeline needs. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Long = 2L, maxBucketSize: Int = 10000,
      minContainmentPpm: Long = 300000L): DataFrame = {
    val base = df.where(F.size(Text.tokens(F.col(textCol))) >= k)
    val cands = winnowOverlapCandidates(base, idCol, textCol, k, w,
        minShared, maxBucketSize)
      .select("a", "b")
    val sets = base.select(F.col(idCol).as("id"),
      F.array_distinct(shingles(F.col(textCol), k)).as("__s"))
    cands
      .join(sets.select(F.col("id").as("a"), F.col("__s").as("sa")), "a")
      .join(sets.select(F.col("id").as("b"), F.col("__s").as("sb")), "b")
      .select(F.col("a"), F.col("b"),
        F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("long").as("n_common"),
        F.size(F.col("sa")).cast("long").as("n_a"),
        F.size(F.col("sb")).cast("long").as("n_b"))
      .withColumn("containment_ppm",
        F.expr("n_common * 1000000L DIV least(n_a, n_b)"))
      .where(F.col("containment_ppm") >= minContainmentPpm)
  }

  /** Duplicated-span masking (the substring-dedup pass of Lee et al. 2022,
    * arXiv:2107.06499, re-expressed at word granularity): any `n`-gram
    * window occurring at least `minCount` times CORPUS-WIDE marks all the
    * token positions it covers; masked positions are removed and the
    * cleaned text reassembled. Unlike document-level dedup this deletes
    * the repeated boilerplate INSIDE otherwise-unique documents. Returns
    * (id, n_tokens, n_masked, clean_text).
    *
    * Scale shape: the corpus-wide count and the dup-window probe shuffle
    * only (md5 fingerprint, position) pairs — document text never leaves
    * its scan stage until the final id-keyed join that reassembles the
    * kept tokens (co-partitioned when the corpus is bucketed by id). The
    * fingerprint is md5 of the space-joined gram — engine-portable, and
    * grouping by it instead of the gram string keeps the hot shuffle at a
    * fixed 32-char key regardless of `n`. Coverage is per-position
    * (`collect_set`), bounded by the document's own token count. */
  def maskDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Long = 2L): DataFrame = {
    // toks feeds the grams build AND the final mask join — the lazy cut
    // (r16) materializes it under the grams checkpoint and the mask join
    // reads the cache, so the regex tokenizer runs once, not twice. The
    // materialized frame is (id, tokens) ≈ corpus text size — the
    // trigramLmScore trade (Text.scala), accepted there since r13.
    val toks = Lineage.cut(
      df.select(F.col(idCol), Text.tokens(F.col(textCol)).as("__t")), eager = false)
    // the grams frame feeds BOTH the dup-count aggregate and the probe
    // join — cut it ((id, pos, fp) only, text stays behind) so the
    // dominant tokenize+shingle+md5 scan runs once, not twice (the same
    // discipline as [[winnowOverlapCandidates]])
    val grams = Lineage.cut(toks.select(F.col(idCol),
        F.posexplode(graft.plans.Expressions.shingleArray(F.col("__t"), n))
          .as(Seq("pos", "g")))
      .select(F.col(idCol), F.col("pos"), F.md5(F.col("g")).as("fp")))
    val dupFps = grams.groupBy("fp").agg(F.count(F.lit(1)).as("__n"))
      .where(F.col("__n") >= minCount).select("fp")
    val covered = grams.join(dupFps, "fp")
      .select(F.col(idCol),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).as("cp"))
      .groupBy(idCol).agg(F.collect_set("cp").as("__cov"))
    toks.join(covered, Seq(idCol), "left")
      .withColumn("__cov", F.coalesce(F.col("__cov"),
        F.array().cast("array<int>")))
      .select(F.col(idCol),
        F.size(F.col("__t")).cast("long").as("n_tokens"),
        F.size(F.col("__cov")).cast("long").as("n_masked"),
        // native single-pass mask+join: the indexed-HOF spelling re-scans
        // __cov per token (O(len·|cov|) per row, interpreted)
        graft.plans.Expressions.maskJoin(F.col("__t"), F.col("__cov"))
          .as("clean_text"))
  }

  /** Span-level decontamination: mask (not drop) the token positions of a
    * document covered by any `n`-gram that appears in the EVAL set — the
    * "mask the leak, keep the doc" policy. [[decontaminate]] drops whole
    * documents (right for verbatim eval copies, wasteful for a long doc
    * quoting one benchmark sentence); this is the surgical variant:
    * the quote disappears, the surrounding training text survives.
    *
    * Scale shape: eval grams are a broadcast fingerprint set (eval suites
    * are small by definition — the [[decontaminate]] premise), so the
    * probe is a scan-stage broadcast join on (id, pos, fp) rows; corpus
    * text never shuffles, and the only wide op is the per-doc
    * covered-position collect, bounded by document length. Mirrors
    * [[maskDuplicatedSpans]] with the dup-count aggregate replaced by the
    * broadcast eval set. */
  def maskEvalSpans(df: DataFrame, idCol: String, textCol: String,
      eval: DataFrame, evalTextCol: String, n: Int = 8): DataFrame = {
    // toks feeds the grams build AND the final mask join — lazily cut
    // (r17, the q125 maskDuplicatedSpans treatment) so the regex
    // tokenizer runs once, not twice. Same (id, tokens) ≈ corpus-text
    // storage trade.
    val toks = Lineage.cut(
      df.select(F.col(idCol), Text.tokens(F.col(textCol)).as("__t")), eager = false)
    val evalFps = F.broadcast(eval
      .select(F.explode(shingles(F.col(evalTextCol), n)).as("__g"))
      .select(F.md5(F.col("__g")).as("fp")).distinct())
    val grams = toks.select(F.col(idCol),
        F.posexplode(graft.plans.Expressions.shingleArray(F.col("__t"), n))
          .as(Seq("pos", "g")))
      .select(F.col(idCol), F.col("pos"), F.md5(F.col("g")).as("fp"))
    val covered = grams.join(evalFps, "fp")
      .select(F.col(idCol),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).as("cp"))
      .groupBy(idCol).agg(F.collect_set("cp").as("__cov"))
    toks.join(covered, Seq(idCol), "left")
      .withColumn("__cov", F.coalesce(F.col("__cov"),
        F.array().cast("array<int>")))
      .select(F.col(idCol),
        F.size(F.col("__t")).cast("long").as("n_tokens"),
        F.size(F.col("__cov")).cast("long").as("n_masked"),
        // native single-pass mask+join: the indexed-HOF spelling re-scans
        // __cov per token (O(len·|cov|) per row, interpreted)
        graft.plans.Expressions.maskJoin(F.col("__t"), F.col("__cov"))
          .as("clean_text"))
  }

  /** Cross-corpus n-gram dedup: drop `batch` documents that share ANY
    * `k`-gram with the `base` corpus — the incremental-ingest face of
    * dedup (yesterday's corpus is `base`, today's crawl is `batch`).
    * [[decontaminate]] is the broadcast variant of this check for SMALL
    * reference sets; here base is another full corpus, so the probe is a
    * keyed shuffle join on the 32-char gram fingerprint instead — base
    * text and batch text both stay in their scan stages, only
    * fingerprints move. Returns the kept batch rows. */
  def crossCorpusDedup(batch: DataFrame, base: DataFrame,
      idCol: String, textCol: String, k: Int = 8): DataFrame = {
    val baseFps = base
      .select(F.explode(shingles(F.col(textCol), k)).as("g"))
      .select(F.md5(F.col("g")).as("fp")).distinct()
    val hit = batch
      .select(F.col(idCol), F.explode(shingles(F.col(textCol), k)).as("g"))
      .select(F.col(idCol), F.md5(F.col("g")).as("fp"))
      .join(baseFps, "fp")
      .select(idCol).distinct()
    batch.join(hit, Seq(idCol), "left_anti")
  }

  /** Quality-aware duplicate-cluster resolution: keep the BEST document of
    * each near-dup cluster instead of the arbitrary min-id one — the form
    * production dedup actually wants (among near-identical crawls, keep
    * the longest / highest-quality copy; [[dropNearDups]] is the id-keyed
    * fast path when any representative will do). Best = max `qualityCol`,
    * ties to the lowest id (fully deterministic). Documents in no cluster
    * always survive.
    *
    * Scale shape: `clusters` is the (id, cluster_id) frame from
    * [[duplicateClusters]] — ids only. The argmax is one max-struct
    * aggregate keyed by cluster (map-side combined) over a narrow
    * (id, quality) projection; the drop list (clustered non-winners) is
    * ids only, and the corpus meets it in ONE anti-join pass — document
    * text never shuffles. */
  def keepBestOfClusters(df: DataFrame, idCol: String, clusters: DataFrame,
      clIdCol: String, clClusterCol: String, qualityCol: String): DataFrame = {
    // NULL cluster labels mean "not clustered" (ADVICE r16): the old
    // left-join spelling passed such rows through untouched, so they must
    // not collapse into one NULL group and lose all but one member here
    val cl = clusters.select(F.col(clIdCol).as(idCol), F.col(clClusterCol).as("__cl"))
      .where(F.col("__cl").isNotNull)
    // r16 (guide §2.4): the old spelling joined the CORPUS to the cluster
    // map twice (the left-join frame fed both the argmax and the
    // unclustered pass-through) plus a third semi-join pass. The argmax
    // only needs (id, quality) of CLUSTERED ids — a narrow column-pruned
    // scan joined to the (small) cluster map — and the survivors are then
    // "everything except clustered non-winners": ONE wide corpus pass
    // through a broadcast anti-join on the ids-only drop list. Same rows
    // out (order differs; the result is set-semantics downstream).
    val scored = cl.join(
      df.select(F.col(idCol), F.col(qualityCol)), Seq(idCol))
    // argmax via max-struct on (quality, -id, id): quality keeps its native
    // type (a cast-to-long would floor fractional scores and break the
    // max-quality contract); -id makes the tie resolve to the LOWEST id
    val best = scored
      .groupBy("__cl")
      .agg(F.max(F.struct(
        F.col(qualityCol).as("q"),
        (F.lit(-1L) * F.col(idCol)).as("negId"),
        F.col(idCol).as("id"))).as("best"))
      .select(F.col("best.id").as(idCol))
    val drop = cl.select(F.col(idCol))
      .join(best, Seq(idCol), "left_anti")
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** The fingerprint buckets [[winnowOverlapCandidates]] drops at this cap
    * — the no-silent-caps audit face. */
  def winnowOversizeBuckets(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, maxBucketSize: Int = 10000): DataFrame =
    df.select(F.explode(winnowFingerprints(F.col(textCol), k, w)).as("fp"))
      .groupBy("fp").agg(F.count(F.lit(1)).as("n_members"))
      .where(F.col("n_members") > maxBucketSize)

  /** Exact-duplicate groups keyed by content fingerprint: canonical id =
    * min id per group. Shuffles only (fingerprint, id) pairs — at 100 TB the
    * text never moves. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(Text.fingerprintMd5(F.col(textCol)).as("fp"), F.col(idCol))
      .groupBy("fp")
      .agg(F.min(idCol).as("canonical_id"), F.count(F.lit(1)).as("n_copies"))

  /** Keep-one-per-duplicate-group filter: retains the canonical (min-id) row
    * per fingerprint without shuffling payload columns: window-free
    * semi-join of ids. */
  def dropExactDups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactDupGroups(df, idCol, textCol)
      .select(F.col("canonical_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Keep-one-per-near-dup-cluster filter: [[nearDupPairs]] →
    * [[duplicateClusters]] → drop every non-canonical member. The anti-join
    * moves only ids; payload columns never shuffle. */
  def dropNearDups(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
      numHashes: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.7): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, k, numHashes, rowsPerBand,
      threshold).select("a", "b")
    val drops = duplicateClusters(pairs, "a", "b")
      .where(F.col("id") =!= F.col("cluster_id"))
      .select(F.col("id").as(idCol))
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination: drop every corpus row whose text shares at
    * least one word `n`-gram with ANY document in `evalSet` — the standard
    * guard against eval answers leaking into training data.
    *
    * Scale shape: eval benchmarks are tiny next to a training corpus, so
    * their distinct n-grams broadcast; the corpus-side explode feeds a
    * broadcast hash probe — the corpus itself never shuffles. The hit list
    * carries ids only (AQE broadcasts it when small), so the final
    * anti-join moves no text either. Docs with fewer than `n` tokens have
    * no n-grams and always survive. */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame, evalTextCol: String, n: Int): DataFrame = {
    val evalGrams = F.broadcast(
      evalSet.select(F.explode(shingles(F.col(evalTextCol), n)).as("__g")).distinct())
    val contaminated = corpus
      .select(F.col(idCol), F.explode(shingles(F.col(textCol), n)).as("__g"))
      .join(evalGrams, "__g")
      .select(idCol)
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** The audit face of [[decontaminate]]: for each CONTAMINATED corpus
    * document, the evidence — how many distinct eval `n`-grams leaked into
    * it and the lexicographically-first one (a reviewable sample, not the
    * unbounded full list). [[decontaminate]] answers "what survives";
    * this answers "what was dropped and WHY" — the report a release
    * process files next to the cleaned corpus.
    *
    * Same scale shape as the drop path: eval grams broadcast, corpus
    * grams stay in their scan stage, the per-doc aggregate carries one
    * count and one min-string. */
  def decontaminationReport(corpus: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame, evalTextCol: String, n: Int): DataFrame = {
    val evalGrams = F.broadcast(
      evalSet.select(F.explode(shingles(F.col(evalTextCol), n)).as("__g")).distinct())
    corpus
      .select(F.col(idCol), F.explode(F.array_distinct(
        shingles(F.col(textCol), n))).as("__g"))
      .join(evalGrams, "__g")
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_leaked_grams"),
        F.min("__g").as("first_leaked_gram"))
  }

  /** Corpus snapshot diff — the data-versioning audit between two corpus
    * versions: per group (source), how many documents were added (in `v2`
    * only), removed (in `v1` only), and common (both). Ids are the join
    * key; content comparison belongs to the fingerprint ops upstream.
    *
    * Scale shape: three id-keyed joins (anti / anti / semi — each
    * broadcastable when one snapshot is small, hash-shuffled otherwise;
    * deliberately NOT a full-outer join, which would force the one
    * non-broadcastable join shape in Spark), then the three tagged
    * streams union into ONE per-source count — no count-frame joins.
    * Only (id, source) pairs move. */
  def corpusDiff(v1: DataFrame, v2: DataFrame, idCol: String,
      groupCol: String): DataFrame = {
    val a = v1.select(F.col(idCol), F.col(groupCol))
    val b = v2.select(F.col(idCol), F.col(groupCol))
    def tag(df: DataFrame, k: String): DataFrame =
      df.select(F.col(groupCol), F.lit(k).as("__k"))
    tag(b.join(a.select(idCol), Seq(idCol), "left_anti"), "added")
      .unionByName(tag(a.join(b.select(idCol), Seq(idCol), "left_anti"), "removed"))
      .unionByName(tag(b.join(a.select(idCol), Seq(idCol), "left_semi"), "common"))
      .groupBy(groupCol)
      .agg(
        F.sum(F.when(F.col("__k") === "added", 1L).otherwise(0L)).as("n_added"),
        F.sum(F.when(F.col("__k") === "removed", 1L).otherwise(0L)).as("n_removed"),
        F.sum(F.when(F.col("__k") === "common", 1L).otherwise(0L)).as("n_common"))
  }

  /** Duplicate-cluster consolidation: connected components over a candidate
    * pair list (e.g. [[nearDupPairs]] output), labeling every member with
    * the minimum id reachable through the pair graph → (id, cluster_id).
    * Near-dup is not transitive, so after LSH+verify produces PAIRS, a real
    * dedup pass still has to pick one survivor per connected GROUP — this is
    * that step.
    *
    * Distributed min-label propagation: each iteration joins the label table
    * to the (bidirectional) edge list and takes the min over self + its
    * neighbors' labels; converges in O(graph diameter) rounds. Dup clusters
    * are shallow (stars / short chains — diameter rarely above the band
    * count), so the default cap is generous. Each round is one equi-join
    * shuffle on ids — never a transitive-closure materialization — and the
    * lineage is cut per round ([[graft.util.Lineage.cut]]) so plans stay
    * flat at any scale. Converged when no label changed.
    */
  def duplicateClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 12): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    val fwd = pairs.select(F.col(aCol).as("src"), F.col(bCol).as("dst"))
    // ONE exchange keyed on dst at build (r16, guide §2.4): every
    // propagation round joins edges⋈labels ON dst, and the old
    // (src,dst)-partitioned cut re-shuffled the FULL edge table each round
    // to satisfy that clustering. Repartitioning BEFORE the distinct makes
    // the dedup partition-local (HashPartitioning(dst) already satisfies
    // the (src,dst) clustering), so the build pays one exchange instead of
    // the old one — and the eager checkpoint freezes the layout
    // (LogicalRDD keeps outputPartitioning), so rounds only move labels.
    val edges = Lineage.cut(fwd.union(fwd.select(F.col("dst").as("src"), F.col("src").as("dst")))
      .repartition(F.col("dst"))
      .distinct())
    // seed with min(self, direct neighbors) — exactly the first propagation
    // round, folded into initialization (one less join round; stars and
    // pairs, the dominant dup shapes, converge immediately)
    var labels = Lineage.cut(edges.groupBy("src").agg(F.min("dst").as("__m"))
      .select(F.col("src").as("id"),
        F.least(F.col("src"), F.col("__m")).as("cluster_id")))
    var iter = 0
    var anyChanged = true
    var lastWithFlag: DataFrame = null
    // the cut the CURRENT `labels` reads from — each round's new eager cut
    // makes the previous one dead; release it so a deep graph doesn't leave
    // O(iterations) label checkpoints in the checkpoint dir
    var liveCut: DataFrame = labels
    while (iter < maxIter && anyChanged) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(F.col("src").as("id"))
        .agg(F.min("cluster_id").as("nbr_min"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(F.col("id"),
          F.least(F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id")))
            .as("cluster_id"),
          F.coalesce(F.col("nbr_min") < F.col("cluster_id"), F.lit(false)).as("__chg"))
      // The checkpoint job runs the join round at full whole-stage codegen
      // (no instrumentation bridge in the path); the convergence probe then
      // scans the just-materialized checkpoint blocks — an early-exiting
      // isEmpty over local partitions, never a recompute of the join.
      lastWithFlag = Lineage.cut(next)
      anyChanged = !lastWithFlag.where(F.col("__chg")).isEmpty
      labels = lastWithFlag.drop("__chg")
      Lineage.release(liveCut)
      liveCut = lastWithFlag
      iter += 1
    }
    if (anyChanged) {
      val stillChanging = lastWithFlag.where(F.col("__chg")).count()
      org.slf4j.LoggerFactory.getLogger("graft.functions.Dedup").warn(
        s"duplicateClusters: NOT converged after $maxIter rounds — $stillChanging labels still " +
          "changing. A long-chain cluster is split across several cluster_ids; downstream " +
          "leak-free splitting would treat its parts independently. Raise maxIter.")
    }
    labels
  }

  private def freshFp(taken: Iterable[String]): String =
    Iterator.from(0).map(i => if (i == 0) "__fp" else s"__fp$i")
      .find(n => !taken.exists(_ == n)).get

  /** Streaming face of exact dedup: first-seen-wins across micro-batches,
    * keyed by the same whitespace-normalizing [[Text.fingerprintMd5]] the
    * batch path (q32) uses — an INGEST-TIME dedup, so a pipeline can drop
    * duplicates as documents arrive instead of re-scanning the corpus.
    * State is one fingerprint per distinct document, partitioned by
    * fingerprint hash in the state store, and grows without bound — the
    * right face for bounded-vocabulary streams or replay-from-checkpoint
    * backfills. For unbounded streams use [[streamingExactDedupBounded]].
    * Exactly-once: `dropDuplicates` state lives in the checkpoint, so a
    * replayed micro-batch re-drops the same rows (spec-pinned). */
  def streamingExactDedup(stream: DataFrame, textCol: String): DataFrame = {
    val fp = freshFp(stream.columns)
    stream.withColumn(fp, Text.fingerprintMd5(F.col(textCol)))
      .dropDuplicates(fp)
      .drop(fp)
  }

  /** As [[streamingExactDedup]] with BOUNDED state: duplicates are only
    * tracked inside the watermark horizon (`dropDuplicatesWithinWatermark`),
    * so the store holds ~rate×delay fingerprints instead of all history —
    * the 100 TB/day shape. A duplicate arriving after its original has
    * aged past `delay` is re-admitted (the documented trade; run a batch
    * [[exactDupGroups]] pass downstream when global uniqueness matters). */
  def streamingExactDedupBounded(stream: DataFrame, textCol: String,
                                 tsCol: String, delay: String): DataFrame = {
    val fp = freshFp(stream.columns)
    stream.withColumn(fp, Text.fingerprintMd5(F.col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(fp)
      .drop(fp)
  }

  /** Duplicate token mass — the headline corpus-accounting statistic
    * ("X% of the crawl is duplicate mass"): per source, how many tokens
    * sit in EXACT-duplicate documents beyond each text's first copy
    * (first = lowest id CORPUS-WIDE, so a source that re-crawls another
    * source's pages carries the waste, not the origin). Reports docs,
    * duplicate docs, total/duplicate token counts, and duplicate-token
    * ppm — the number that decides whether exact dedup is worth a pass
    * before the expensive near-dup tiers.
    *
    * Scale shape: one scan hashing text and counting tokens in the scan
    * stage; the only corpus-sized exchange is the md5-keyed min-id
    * aggregate (map-side combined, one row per distinct text) joined
    * back on the hash (co-partitioned); the per-source report is a
    * |sources|-key aggregate. */
  def dupTokenMass(df: DataFrame, idCol: String, textCol: String,
                   srcCol: String): DataFrame = {
    // "first copy" = lowest id in the id's NATURAL order — no long cast:
    // a string-keyed corpus under CAST(id AS BIGINT) yields null ids,
    // every __id =!= __first compares null, and the report silently
    // claims zero duplicate mass. Raw-typed min keeps string corpora
    // correct (first = lexicographic min, a policy choice, not a bug).
    val base = df.where(F.col(textCol).isNotNull)
      .select(F.col(srcCol).as("source"), F.col(idCol).as("__id"),
        F.md5(F.col(textCol)).as("__h"),
        graft.functions.Text.tokenCount(F.col(textCol)).cast("long").as("__c"))
    val first = base.groupBy("__h").agg(F.min("__id").as("__first"))
    base.join(first, Seq("__h"))
      .withColumn("__dup", F.when(F.col("__id") =!= F.col("__first"), 1L)
        .otherwise(0L))
      .groupBy("source")
      .agg(F.count(F.lit(1)).as("n_docs"),
        F.sum("__dup").as("n_dup_docs"),
        F.sum("__c").as("tokens_total"),
        F.sum(F.expr("__dup * __c")).as("tokens_dup"))
      .withColumn("dup_token_ppm", F.expr(
        """CAST(CAST(tokens_dup AS DECIMAL(38,0)) * 1000000
               DIV greatest(tokens_total, 1L) AS BIGINT)"""))
      .select("source", "n_docs", "n_dup_docs", "tokens_total",
        "tokens_dup", "dup_token_ppm")
  }
}
