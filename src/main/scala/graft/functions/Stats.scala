package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window
import graft.util.Lineage

/** Distributed statistics with cross-engine-deterministic arithmetic.
  *
  * The discipline throughout: accumulate INTEGERS (exact, order-independent
  * under any shuffle), divide/sqrt as the LAST step (IEEE ops on identical
  * inputs give identical doubles on every engine). A naive
  * `stddev(double_col)` is not reproducible — float addition is
  * non-associative, so the result depends on partition order; at 100 TB
  * that means two runs of the same job disagree in the last ulps and any
  * exact downstream comparison (dedup keys, test sets, oracles) breaks.
  */
object Stats {

  /** Per-group mean and (population) standard deviation of an integer
    * column, plus each row's z-score — exact integer sums per group, one
    * shuffle. `intCol` must be integer-valued (e.g. cents) of any integer
    * width — it is widened to long before squaring, so the bound is on the
    * VALUES, not the column type: |x| ≤ ~3M keeps the summed squares inside
    * a long for billion-row groups. */
  private def withMoments(df: DataFrame, groupCol: String, intCol: String): DataFrame = {
    val byGroup = Window.partitionBy(groupCol)
    val xL = F.col(intCol).cast("long")
    df.withColumn("__n", F.count(F.lit(1)).over(byGroup))
      .withColumn("__s", F.sum(xL).over(byGroup))
      .withColumn("__ss", F.sum(xL * xL).over(byGroup))
      .withColumn("mean", F.col("__s").cast("double") / F.col("__n").cast("double"))
      .withColumn("variance",
        (F.col("__ss").cast("double") -
          F.col("__s").cast("double") * F.col("__s").cast("double") / F.col("__n").cast("double")) /
          F.col("__n").cast("double"))
  }

  /** Rows more than `sigmas` standard deviations from their group's mean:
    * |x*n - s| > sigmas * sqrt(var) * n, rearranged to avoid dividing by a
    * zero stddev. Output keeps (group, id, value, mean, stddev). */
  def zscoreOutliers(df: DataFrame, groupCol: String, idCol: String,
      intCol: String, sigmas: Double): DataFrame =
    withMoments(df, groupCol, intCol)
      .withColumn("stddev", F.sqrt(F.col("variance")))
      .where(F.abs(F.col(intCol).cast("double") - F.col("mean")) >
        F.lit(sigmas) * F.col("stddev"))
      .select(F.col(groupCol), F.col(idCol), F.col(intCol), F.col("mean"),
        F.col("stddev"))

  /** Trailing moving average over the last `window` rows per key (ordered by
    * `ts`, tied by `tieBreak`): integer running sum / running count — exact,
    * then one final division. One shuffle on the key. */
  def movingAvg(df: DataFrame, keyCol: String, ts: String, tieBreak: String,
      intCol: String, window: Int, outCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(F.col(ts), F.col(tieBreak))
      .rowsBetween(-(window - 1), Window.currentRow)
    df.withColumn(outCol,
      F.sum(F.col(intCol)).over(w).cast("double") /
        F.count(F.lit(1)).over(w).cast("double"))
  }

  /** Distribution drift between two corpus slices over a categorical
    * column — the QA gate after any split/sample/mix step: did the test
    * slice keep the train slice's language (or source, or quality-bucket)
    * mix? One row per category with both Laplace-smoothed probabilities
    * (`(n+1)/(N+K)` — absent-in-one-side categories get mass instead of a
    * zero divide), the total-variation term `|p_a−p_b|/2` and the
    * chi-square term `(p_a−p_b)²/p_b`; `SUM(tv_term)` / `SUM(chi_term)`
    * over the result is the distance. No transcendentals (a KL would need
    * `ln`, whose last-ulp varies by libm — the q108 lesson): counts are
    * exact integers, and `/`, `−`, `×` on identical doubles are IEEE
    * correctly-rounded, so the output is bit-reproducible across engines.
    *
    * Scale shape: each side is one map-side-combined count on the category
    * (cardinality ~ languages/sources, tiny), a full outer join of two
    * tiny frames, and a 1-row category-count scalar — the corpus scans
    * dominate; nothing wide ever exceeds the category count. */
  def distributionDrift(a: DataFrame, b: DataFrame, catCol: String): DataFrame = {
    def counts(df: DataFrame, out: String) =
      df.where(F.col(catCol).isNotNull)
        .groupBy(catCol).agg(F.count(F.lit(1)).as(out))
    val ca = counts(a, "n_a")
    val cb = counts(b, "n_b")
    // category-cardinality frame read by TWO consumers (totals + output):
    // cut it once so the corpus count scans run once, not twice
    val joined = Lineage.cut(ca.join(cb, Seq(catCol), "full_outer")
      .select(F.col(catCol),
        F.coalesce(F.col("n_a"), F.lit(0L)).as("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0L)).as("n_b")))
    val k = F.count(F.lit(1))           // distinct categories (union)
    val totals = joined.agg(
      F.sum("n_a").as("__ta"), F.sum("n_b").as("__tb"), k.as("__k"))
    val pA = (F.col("n_a") + F.lit(1L)).cast("double") /
      (F.col("__ta") + F.col("__k")).cast("double")
    val pB = (F.col("n_b") + F.lit(1L)).cast("double") /
      (F.col("__tb") + F.col("__k")).cast("double")
    joined.crossJoin(F.broadcast(totals))
      .withColumn("p_a", pA)
      .withColumn("p_b", pB)
      .withColumn("tv_term", F.abs(F.col("p_a") - F.col("p_b")) / F.lit(2.0))
      .withColumn("chi_term",
        (F.col("p_a") - F.col("p_b")) * (F.col("p_a") - F.col("p_b")) / F.col("p_b"))
      .drop("__ta", "__tb", "__k")
  }

  /** k-anonymity audit — the re-identification gate a corpus release
    * runs over its quasi-identifier columns (the attribute combination
    * an adversary could link on): group rows by the quasi-identifier
    * tuple and report, per group-size class (1, 2, …, ≥k), how many
    * groups and rows sit there. Rows in classes below `k` are the
    * k-anonymity violations — size-1 classes are outright unique
    * fingerprints. The caller pre-projects/coarsens the quasi columns
    * (banding, truncation) and re-runs the audit to pick the coarsening
    * that clears the gate; NULL is a legitimate quasi value and groups
    * as itself on both engines.
    *
    * Scale shape: one map-side-combined groupBy on the quasi tuple (the
    * only corpus-sized shuffle), then a ≤k-row class aggregate,
    * checkpoint-cut so the totals cross doesn't re-run the corpus scan.
    * Integer ppm via the DECIMAL(38,0)-widened spelling (corpus-scale
    * numerator). */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String],
                      k: Int = 5): DataFrame = {
    require(quasiCols.nonEmpty, "no quasi-identifier columns given")
    require(k >= 2, s"k must be >= 2, got $k")
    val classes = Lineage.cut(df
      .groupBy(quasiCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__cnt"))
      .select(F.least(F.col("__cnt"), F.lit(k.toLong)).as("size_class"),
        F.col("__cnt"))
      .groupBy("size_class")
      .agg(F.count(F.lit(1)).as("n_groups"), F.sum("__cnt").as("n_rows")))
    val totals = classes.agg(F.sum("n_rows").as("__tot"))
    classes.crossJoin(F.broadcast(totals))
      .withColumn("rows_ppm", F.expr(
        """CAST(CAST(n_rows AS DECIMAL(38,0)) * 1000000
               DIV greatest(__tot, 1L) AS BIGINT)"""))
      .select("size_class", "n_groups", "n_rows", "rows_ppm")
  }

  /** l-diversity audit — [[kAnonymityAudit]]'s homogeneity-attack
    * partner (Machanavajjhala et al. 2007): a quasi-identifier group can
    * clear k-anonymity yet leak the SENSITIVE attribute outright when
    * every row in it shares one sensitive value. Per quasi group, count
    * the DISTINCT sensitive values; report per diversity class
    * (1, 2, …, ≥l) how many groups and rows sit there — class-1 groups
    * are full disclosures, classes below `l` are the violations. Same
    * caller loop as the k audit: coarsen the quasi columns, re-run,
    * release when the low classes empty. NULL is a legitimate value on
    * both axes and groups as itself.
    *
    * Scale shape: one map-side-combined groupBy on (quasi, sensitive) —
    * duplicates collapse BEFORE the wire — then a per-quasi aggregate
    * (distinct count = row count of the collapsed frame) and a ≤l-row
    * class aggregate; checkpoint-cut before the totals cross. */
  def lDiversityAudit(df: DataFrame, quasiCols: Seq[String],
                      sensitiveCol: String, l: Int = 3): DataFrame = {
    require(quasiCols.nonEmpty, "no quasi-identifier columns given")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot also be a quasi-identifier")
    require(l >= 2, s"l must be >= 2, got $l")
    val collapsed = df
      .groupBy((quasiCols :+ sensitiveCol).map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__cnt"))
    val classes = Lineage.cut(collapsed
      .groupBy(quasiCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__ndv"), F.sum("__cnt").as("__rows"))
      .select(F.least(F.col("__ndv"), F.lit(l.toLong)).as("diversity_class"),
        F.col("__rows"))
      .groupBy("diversity_class")
      .agg(F.count(F.lit(1)).as("n_groups"), F.sum("__rows").as("n_rows")))
    val totals = classes.agg(F.sum("n_rows").as("__tot"))
    classes.crossJoin(F.broadcast(totals))
      .withColumn("rows_ppm", F.expr(
        """CAST(CAST(n_rows AS DECIMAL(38,0)) * 1000000
               DIV greatest(__tot, 1L) AS BIGINT)"""))
      .select("diversity_class", "n_groups", "n_rows", "rows_ppm")
  }

  /** t-closeness audit — the third member of the release-gate trio
    * ([[kAnonymityAudit]] group sizes, [[lDiversityAudit]] distinct
    * sensitive values, this one DISTRIBUTIONS): a group can be large and
    * diverse yet still leak when its sensitive-value distribution skews
    * far from the corpus's (Li et al. 2007). Per quasi group, the exact
    * total-variation distance between the group's sensitive distribution
    * and the global one, in integer ppm —
    * `tv = Σ_s |c_gs·n − c_s·n_g| · 10⁶ DIV (2·n_g·n)` with the ABSENT
    * sensitive values' mass added explicitly (`n_g·(n − Σ_present c_s)`
    * — the q190 absent-cell lesson: present-only sums understate). Groups
    * report banded (`bandsPpm` ascending upper bounds; the last band is
    * everything above), per band: group/row counts and the band's max
    * tv — the release decision reads the top band.
    *
    * Scale shape: ONE corpus-sized map-side-combined (quasi, sensitive)
    * groupBy; marginals derive from it (no second corpus scan); the
    * per-group fold joins on the sensitive key (co-partitioned at
    * scale) and every product runs in DECIMAL(38,0) (c·n reaches n²).
    *
    * NULL is a legitimate value on both axes, matching the other two
    * gates: the marginal joins are null-SAFE (`<=>`), so a group whose
    * quasi tuple contains NULL still reports, and NULL-sensitive rows
    * count as a present value rather than leaking into the absent term.
    */
  def tClosenessAudit(df: DataFrame, quasiCols: Seq[String],
                      sensitiveCol: String,
                      bandsPpm: Seq[Long]): DataFrame = {
    require(quasiCols.nonEmpty, "no quasi-identifier columns given")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot also be a quasi-identifier")
    require(bandsPpm.nonEmpty && bandsPpm == bandsPpm.sorted &&
      bandsPpm.forall(b => b >= 0L && b <= 1000000L),
      s"bands must be ascending ppm in [0, 1000000], got $bandsPpm")
    // marginals + the fold all derive from this
    val gs = Lineage.cut(df
      .groupBy((quasiCols :+ sensitiveCol).map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__cgs")))
    // marginal joins are null-safe: an equi-join on the raw columns would
    // silently drop NULL-quasi groups and shunt NULL-sensitive mass into
    // the absent term, contradicting the trio's NULL-is-a-value contract
    val sTot = gs.groupBy(sensitiveCol).agg(F.sum("__cgs").as("__cs"))
      .withColumnRenamed(sensitiveCol, "__sk")
    val gTot = quasiCols.zipWithIndex.foldLeft(
        gs.groupBy(quasiCols.map(F.col): _*).agg(F.sum("__cgs").as("__ng"))) {
      case (d, (q, i)) => d.withColumnRenamed(q, s"__qk$i")
    }
    val nTot = sTot.agg(F.sum("__cs").as("__n"))
    val perGroup = gs
      .join(sTot, F.col(sensitiveCol) <=> F.col("__sk"))
      .join(gTot, quasiCols.zipWithIndex
        .map { case (q, i) => F.col(q) <=> F.col(s"__qk$i") }
        .reduce(_ && _))
      .crossJoin(F.broadcast(nTot))
      .groupBy(quasiCols.map(F.col): _*)
      .agg(
        F.first("__ng").as("__ng"), F.first("__n").as("__n"),
        F.expr("""sum(abs(CAST(__cgs AS DECIMAL(38,0)) * __n -
                          CAST(__cs AS DECIMAL(38,0)) * __ng))""").as("__present"),
        F.sum("__cs").as("__cs_present"))
      .withColumn("tv_ppm", F.expr(
        """CAST((__present +
                 CAST(__ng AS DECIMAL(38,0)) * (__n - __cs_present)) * 1000000
               DIV (2 * CAST(__ng AS DECIMAL(38,0)) * __n) AS BIGINT)"""))
    val bArr = bandsPpm.mkString("array(", "L, ", "L)")
    val classes = Lineage.cut(perGroup
      .select(F.expr(
          s"CAST(size(filter($bArr, b -> b < tv_ppm)) AS BIGINT)").as("band"),
        F.col("__ng"), F.col("tv_ppm"))
      .groupBy("band")
      .agg(F.count(F.lit(1)).as("n_groups"), F.sum("__ng").as("n_rows"),
        F.max("tv_ppm").as("max_tv_ppm")))
    val totals = classes.agg(F.sum("n_rows").as("__tot"))
    classes.crossJoin(F.broadcast(totals))
      .withColumn("rows_ppm", F.expr(
        """CAST(CAST(n_rows AS DECIMAL(38,0)) * 1000000
               DIV greatest(__tot, 1L) AS BIGINT)"""))
      .select("band", "n_groups", "n_rows", "rows_ppm", "max_tv_ppm")
  }

  /** Streaming privacy-gate monitor — the live face of the release-gate
    * trio's counting core ([[kAnonymityAudit]] group sizes +
    * [[lDiversityAudit]] distinct sensitive values): per quasi group, the
    * RUNNING row count and distinct-sensitive count maintained in the
    * state store across micro-batches, emitted on every touch in update
    * mode as (quasi_key, n_rows, ndv_sensitive). The per-batch violation
    * count is a filter over the emissions (`n_rows < k` — not yet
    * k-anonymous; `ndv_sensitive < l` — homogeneity disclosure risk);
    * run the batch audits before an actual release — this face answers
    * "is the gate converging" while data is still arriving.
    *
    * NULL is a legitimate value on both axes (the trio's contract):
    * quasi columns and the sensitive column are sentinel-coalesced
    * before keying, so NULL groups as itself. StateStoreSpec pins
    * streaming == batch against the q189/q212 class assignment,
    * including NULL rows.
    *
    * Scale shape: state is one map entry per distinct (quasi, sensitive)
    * pair — the batch audits' collapsed table, which saturates; `ttl`
    * bounds it for unbounded quasi domains (RotatingMap discipline —
    * evicted groups restart fresh on re-arrival). */
  def streamingPrivacyGate(stream: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String,
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE): DataFrame = {
    require(quasiCols.nonEmpty, "no quasi-identifier columns given")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot also be a quasi-identifier")
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(
        F.concat_ws("\u0001", quasiCols.map(c =>
          F.coalesce(F.col(c).cast("string"), F.lit("\u0002"))): _*).as("q"),
        F.coalesce(F.col(sensitiveCol).cast("string"), F.lit("\u0002")).as("s"))
      .as[(String, String)]
      .groupByKey(_._1)
      .transformWithState(
        new graft.streaming.StateStoreRunner.PrivacyGateProcessor(ttl),
        graft.streaming.StateStoreRunner.ttlTimeMode(ttl),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("quasi_key", "n_rows", "ndv_sensitive")
  }

  /** Streaming face of [[dpNoisyCounts]] — per-batch DP releases of the
    * RUNNING group counts: each batch that touches a group emits ONE
    * release `(group_key, release_idx, noisy_count)` with fresh
    * truncated-geometric noise drawn from the release index (so
    * repeated releases are independent mechanism invocations —
    * ε-accounting is the caller's: k releases of a group compose to
    * k·ε). Same exact-rational threshold table and md5 uniform as the
    * batch face; the batch-face seed-secrecy caveat applies unchanged,
    * and so does the UNKNOWN-DOMAIN caveat — only keys the stream has
    * touched ever release, so the emitted key set (and each release's
    * timing) reveals membership unless the group-key universe is public
    * knowledge; for data-dependent key domains release through the
    * batch face with an explicit `domain` instead. FunctionsSpec
    * replays the noise independently and pins the running counts
    * against the arrivals. */
  def streamingDpRelease(stream: DataFrame, groupCols: Seq[String],
      seed: Long, noiseBase: Int = 2, clampB: Int = 32,
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE): DataFrame = {
    require(groupCols.nonEmpty, "no group columns given")
    val thresholds = geometricThresholds(noiseBase, clampB).toArray
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(
        F.concat_ws("\u0001", groupCols.map(c =>
          F.coalesce(F.col(c).cast("string"), F.lit("\u0002"))): _*).as("k"),
        F.lit(1L).as("one"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new graft.streaming.StateStoreRunner.DpReleaseProcessor(
          thresholds, clampB, seed, ttl),
        graft.streaming.StateStoreRunner.ttlTimeMode(ttl),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("group_key", "release_idx", "noisy_count")
  }

  /** Streaming face of [[dpHistogram]] — the release-index pattern of
    * [[streamingDpRelease]] composed with the public-bin frame: each
    * batch that touches a group emits one release row for EVERY bin of
    * the public binning (empty bins included) over the group's RUNNING
    * per-bin counts, with fresh noise per (release index, bin). Each
    * release costs ε = ln(noiseBase) (parallel composition across
    * bins); k releases compose to k·ε — the caller's budget. Same
    * seed-secrecy and touched-keys-only caveats as
    * [[streamingDpRelease]]. Output:
    * (group_key, release_idx, bin, noisy_count). */
  def streamingDpHistogram(stream: DataFrame, groupCols: Seq[String],
      valueCol: String, boundaries: Seq[Long], seed: Long,
      noiseBase: Int = 2, clampB: Int = 32,
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE): DataFrame = {
    require(groupCols.nonEmpty, "no group columns given")
    require(boundaries.nonEmpty && boundaries == boundaries.sorted &&
      boundaries.distinct == boundaries,
      s"boundaries must be non-empty strictly ascending, got $boundaries")
    val thresholds = geometricThresholds(noiseBase, clampB).toArray
    // same codegen-friendly indicator-sum bin as the batch face
    val binExpr = Scale.indicatorBinExpr(boundaries,
      s"CAST(`$valueCol` AS BIGINT)")
    val spark = stream.sparkSession
    import spark.implicits._
    stream.where(F.col(valueCol).isNotNull)
      .select(
        F.concat_ws("\u0001", groupCols.map(c =>
          F.coalesce(F.col(c).cast("string"), F.lit("\u0002"))): _*).as("k"),
        F.expr(binExpr).as("bin"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new graft.streaming.StateStoreRunner.DpHistogramReleaseProcessor(
          thresholds, clampB, seed, boundaries.size + 1, ttl),
        graft.streaming.StateStoreRunner.ttlTimeMode(ttl),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("group_key", "release_idx", "bin", "noisy_count")
  }

  /** ε-differentially-private noisy-count release — the RELEASE step the
    * audit trio (k-anonymity / l-diversity / t-closeness) gates: per
    * group, `count + noise` where noise follows the two-sided geometric
    * distribution `p(k) ∝ α^|k|` with `α = 1/noiseBase` — the discrete
    * Laplace mechanism for counting queries (Ghosh–Roughgarden–
    * Sundararajan 2009), ε = ln(noiseBase) per release. Noise is
    * truncated at ±`clampB` (tail mass folds onto the endpoints —
    * P(|noise| > 32) ≈ q⁻³² is negligible at the default) and the
    * released value floors at 0 (post-processing, DP-safe).
    *
    * Engine-exact construction with NO floats anywhere: because α is
    * 1/integer, every CDF value is an exact rational — the inverse-CDF
    * threshold table `T_j = ⌊2⁶⁰·CDF(j)⌋` is computed in BigInt and
    * frozen into the expression as literals; the uniform is the
    * established 60-bit md5 draw (`conv(substring(md5(key||seed)...`)
    * over the sentinel-joined group key, so the release replays
    * bit-for-bit in any engine (and in the DuckDB oracle).
    *
    * PRIVACY CAVEAT (read before deploying): the hash-derived uniform
    * makes releases REPRODUCIBLE — the property the oracle gate and
    * re-runnable pipelines need — which means the seed must be treated
    * as a secret drawn fresh per release; an adversary who knows the
    * seed can subtract the noise. For a production release draw the
    * seed from a CSPRNG per publication (the mechanism's arithmetic is
    * unchanged).
    *
    * UNKNOWN-DOMAIN CAVEAT (the classic problem): releasing only groups
    * PRESENT in the data leaks membership through the key set itself —
    * under add/remove-one-row adjacency a singleton group's key appears
    * in one world and not its neighbor, so the per-release ε guarantee
    * only holds when the group-key set is PUBLIC. Pass `domain` (the
    * a-priori public key universe) to release a noisy count for EVERY
    * domain key — absent groups release noise-only counts (floored at
    * 0), present groups outside the domain are NOT released — which
    * restores the guarantee for data-dependent key sets. With
    * `domain = None` the caller asserts the observed key set is public
    * knowledge.
    *
    * Scale shape: one map-side-combined groupBy (the count), then
    * per-GROUP literal arithmetic — noise adds zero corpus cost; the
    * domain join broadcasts the (small, public) domain table. */
  /** Inverse-CDF threshold table of the two-sided truncated geometric
    * distribution with α = 1/noiseBase, in 2⁶⁰ space — exact rationals
    * throughout (see [[dpNoisyCounts]]): CDF(−m) = q^−(m−1)/(q+1) for
    * 1 ≤ m ≤ B; CDF(j) = 1 − q^−j/(q+1) for 0 ≤ j < B. */
  private[graft] def geometricThresholds(noiseBase: Int, clampB: Int): Seq[Long] = {
    require(noiseBase >= 2, s"noiseBase must be >= 2, got $noiseBase")
    require(clampB >= 1 && clampB <= 64, s"clampB must be in [1, 64], got $clampB")
    val two60 = BigInt(1) << 60
    val q = BigInt(noiseBase)
    (clampB to 1 by -1).map { m =>
      (two60 / (q.pow(m - 1) * (q + 1))).toLong
    } ++ (0 until clampB).map { j =>
      // floor(2^60·(1 − y)) = 2^60 − ceil(2^60·y)
      val den = q.pow(j) * (q + 1)
      (two60 - (two60 + den - 1) / den).toLong
    }
  }

  /** Re-key an observed per-group aggregate onto a PUBLIC release
    * domain: the domain IS the release universe — every public key
    * releases (absent ones with `aggCol` = 0), observed keys outside it
    * do NOT. Scale shape: prune observed to the domain with a broadcast
    * semi-join FIRST (the observed key set can be huge; the survivor
    * set is ≤ |domain| rows), then the small pruned side broadcasts
    * into the domain-preserving left join. Null-safe `<=>` throughout
    * (the r11 t-closeness discipline): a NULL group key in the domain
    * matches the NULL-keyed group. Shared by every domain-aware DP
    * release ([[dpNoisyCounts]], [[dpNoisySums]], [[dpHistogram]]'s
    * group frame). */
  private def onPublicDomain(observed: DataFrame, groupCols: Seq[String],
                             d: DataFrame, aggCol: String): DataFrame = {
    require(groupCols.forall(d.columns.contains),
      s"domain must carry the group columns $groupCols, has ${d.columns.toSeq}")
    val d2 = d.select(groupCols.map(F.col): _*).distinct()
    val semiCond = groupCols
      .map(c => observed(c) <=> d2(c)).reduce(_ && _)
    val pruned = observed
      .join(F.broadcast(d2), semiCond, "left_semi").alias("__obs")
    val dom = d2.alias("__dom")
    val joinCond = groupCols
      .map(c => F.col(s"__dom.$c") <=> F.col(s"__obs.$c")).reduce(_ && _)
    dom.join(F.broadcast(pruned), joinCond, "left")
      .select(groupCols.map(c => F.col(s"__dom.$c")) :+
        F.coalesce(F.col(s"__obs.$aggCol"), F.lit(0L)).as(aggCol): _*)
  }

  def dpNoisyCounts(df: DataFrame, groupCols: Seq[String], seed: Long,
                    noiseBase: Int = 2, clampB: Int = 32,
                    domain: Option[DataFrame] = None): DataFrame = {
    require(groupCols.nonEmpty, "no group columns given")
    val thresholds = geometricThresholds(noiseBase, clampB)
    val tArr = thresholds.mkString("array(", "L, ", "L)")
    val keyCols = groupCols.map(c =>
      s"coalesce(CAST(`$c` AS STRING), chr(2))").mkString(", ")
    val observed = df.groupBy(groupCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__n"))
    val counts = domain match {
      case None => observed
      case Some(d) => onPublicDomain(observed, groupCols, d, "__n")
    }
    counts
      .withColumn("__u", F.expr(
        s"""CAST(conv(substring(md5(concat_ws(chr(1), $keyCols, '$seed')),
               1, 15), 16, 10) AS BIGINT)"""))
      .withColumn("noisy_count", F.expr(
        s"""greatest(__n + CAST(size(filter($tArr, t -> t <= __u)) AS BIGINT)
               - ${clampB}L, 0L)"""))
      .select(groupCols.map(F.col) :+ F.col("noisy_count"): _*)
  }

  /** ε-DP noisy SUM release — [[dpNoisyCounts]]' partner for the other
    * release primitive: per group, the sum of per-row values CLAMPED to
    * [0, clampC] (clamping bounds the sensitivity — one row changes the
    * sum by at most C), QUANTIZED to the C-lattice (round-half-up to
    * the nearest multiple of C), and released as
    * `C·(lattice_sum + noise)` with the same two-sided truncated-
    * geometric noise. The quantization is what makes the ε claim true:
    * C-scaled noise alone keeps the release on `true_sum + C·ℤ`, so the
    * released value would reveal the clamped sum modulo C exactly
    * (neighbors whose sums differ by a non-multiple of C would release
    * on DISJOINT lattices — distinguishable with certainty, no finite
    * ε). Rounding to the lattice FIRST puts every world on the same
    * support: neighbors move the clamped sum by ≤ C, hence the lattice
    * point by ≤ 1 step (round-half-up is 1-Lipschitz in C-steps), and
    * the geometric noise's per-step ratio gives ε = ln(noiseBase)
    * exactly — at the cost of ≤ C/2 deterministic quantization bias
    * (the resolution already implied by sensitivity-C noise).
    * Same exact-rational thresholds, same md5 uniform (drawn with a
    * `:sum` tag so a joint count+sum release of the same groups uses
    * independent noise), same seed-secrecy caveat and same
    * unknown-domain caveat as [[dpNoisyCounts]] — float-free and
    * engine-exact. Released values floor at 0.
    *
    * Scale shape: one map-side-combined groupBy (clamp in the scan
    * stage); quantization and noise are per-GROUP literal arithmetic. */
  def dpNoisySums(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  clampC: Long, seed: Long,
                  noiseBase: Int = 2, clampB: Int = 32,
                  domain: Option[DataFrame] = None): DataFrame = {
    require(groupCols.nonEmpty, "no group columns given")
    require(clampC >= 1, s"clampC must be >= 1, got $clampC")
    val thresholds = geometricThresholds(noiseBase, clampB)
    val tArr = thresholds.mkString("array(", "L, ", "L)")
    val keyCols = groupCols.map(c =>
      s"coalesce(CAST(`$c` AS STRING), chr(2))").mkString(", ")
    val observed = df.groupBy(groupCols.map(F.col): _*)
      // NULL contributes 0 explicitly: least/greatest SKIP nulls on both
      // engines, so an unguarded clamp would turn a NULL row into +C
      .agg(F.sum(F.expr(
        s"""CASE WHEN `$valueCol` IS NULL THEN 0L
             ELSE greatest(least(CAST(`$valueCol` AS BIGINT), ${clampC}L), 0L) END"""))
        .as("__s"))
    val sums = domain match {
      case None => observed
      // absent domain keys release the lattice point of sum 0 + noise
      // (floored at 0) — the same membership-hiding face as the counts
      case Some(d) => onPublicDomain(observed, groupCols, d, "__s")
    }
    sums
      .withColumn("__u", F.expr(
        s"""CAST(conv(substring(md5(concat_ws(chr(1), $keyCols, '$seed:sum')),
               1, 15), 16, 10) AS BIGINT)"""))
      // round-half-up lattice index: ⌊(2s + C) / 2C⌋ (s ≥ 0 by clamp)
      .withColumn("noisy_sum", F.expr(
        s"""${clampC}L * greatest(
               (2L * __s + ${clampC}L) DIV ${2L * clampC}L
               + CAST(size(filter($tArr, t -> t <= __u)) AS BIGINT)
               - ${clampB}L, 0L)"""))
      .select(groupCols.map(F.col) :+ F.col("noisy_sum"): _*)
  }

  /** ε-DP median release via the EXPONENTIAL MECHANISM (McSherry–Talwar
    * 2007) — the DP tier's third primitive after [[dpNoisyCounts]] and
    * [[dpNoisySums]]: additive noise cannot privatize a quantile (its
    * local sensitivity is unbounded), so the mechanism instead SAMPLES
    * the released value from a FIXED PUBLIC CANDIDATE GRID
    * `candLo, candLo+candStep, …, candHi` with weight `α^(−ũ)` where
    * `u(v) = |2·#{x<v} + #{x=v} − n|` is the doubled rank distance of
    * candidate v from the median position and `ũ = min(u, clampB)` is
    * its ABSOLUTE clamp. The grid being data-INDEPENDENT is essential:
    * sampling from the group's observed distinct values (the naive
    * construction) makes the output support itself data-dependent — a
    * value present in one world and not its neighbor is releasable with
    * positive probability in only one of them (unbounded likelihood
    * ratio, and every release discloses that the value occurs). The
    * clamp must be absolute for the same reason: clamping relative to
    * the per-group BEST utility (a data-dependent quantity with its own
    * sensitivity 1) doubles the effective score sensitivity when it
    * binds; `min(u, clampB)` against the constant keeps sensitivity at
    * u's own 1 (one added row moves every candidate's signed score by
    * ±1 and min(·, const) is 1-Lipschitz), so the release is
    * ε = 2·ln(noiseBase)-DP over the public support. Candidates more
    * than clampB ranks off the optimum all weigh q⁰ = 1 — far tails
    * degrade to uniform-over-grid rather than leak.
    *
    * Engine-exact with no floats: weights are integer powers
    * `q^(clampB − min(u, clampB))` read from a literal table, the
    * cumulative-weight ladder accumulates in DECIMAL(38,0), the draw is
    * the 60-bit md5 uniform (`:med`-tagged — independent of the
    * count/sum releases), and the released value is the first ladder
    * crossing — bit-reproducible in any engine. Seed-secrecy and
    * group-key-domain caveats as in [[dpNoisyCounts]] (group keys are
    * taken from the data; pass counts a domain or treat the key set as
    * public).
    *
    * Scale shape: one map-side-combined (group, value) groupBy, then
    * windows over the union of the data's distinct-value ladder and the
    * |grid| candidate rows (bounded by the value domain plus the grid,
    * not by rows — band near-unique value columns first, the q189/q190
    * discipline); the grid itself enters as one exploded literal
    * sequence per group. */
  def dpMedian(df: DataFrame, groupCols: Seq[String], valueCol: String,
               seed: Long, candLo: Long, candHi: Long, candStep: Long,
               noiseBase: Int = 2, clampB: Int = 32,
               domain: Option[DataFrame] = None): DataFrame = {
    require(groupCols.nonEmpty, "no group columns given")
    require(noiseBase >= 2, s"noiseBase must be >= 2, got $noiseBase")
    require(clampB >= 1 && clampB <= 62, s"clampB must be in [1, 62], got $clampB")
    require(BigInt(noiseBase).pow(clampB) <= BigInt(Long.MaxValue),
      s"noiseBase^clampB must fit a long, got $noiseBase^$clampB")
    require(candStep >= 1 && candHi >= candLo,
      s"bad candidate grid [$candLo, $candHi] step $candStep")
    val nCand = (candHi - candLo) / candStep + 1
    // total weight ≤ |grid|·q^clampB must leave room for ·2⁶⁰ in DECIMAL(38,0)
    require((BigInt(noiseBase).pow(clampB) * nCand << 60) < BigInt(10).pow(38),
      s"grid of $nCand candidates x $noiseBase^$clampB overflows the exact ladder")
    val powers = (0 to clampB).map(e => BigInt(noiseBase).pow(e).toLong)
    val pArr = powers.mkString("array(", "L, ", "L)")
    val gCols = groupCols.map(F.col)
    val byG = Window.partitionBy(gCols: _*)
    val ladder = Window.partitionBy(gCols: _*).orderBy(F.col("__v"))
    // strictly-below-v running sum: RANGE frame ending at -1 (value-based,
    // excludes ALL peers of the current value)
    val below = Window.partitionBy(gCols: _*).orderBy(F.col("__v"))
      .rangeBetween(Window.unboundedPreceding, -1L)
    val keyCols = groupCols.map(c =>
      s"coalesce(CAST(`$c` AS STRING), chr(2))").mkString(", ")
    val data0 = df.where(F.col(valueCol).isNotNull)
      .groupBy(gCols :+ F.col(valueCol).cast("long").as("__v"): _*)
      .agg(F.count(F.lit(1)).as("__c"))
      .withColumn("__cand", F.lit(0))
    // with a PUBLIC group domain, the domain is the release universe:
    // off-domain groups are semi-pruned out, absent groups get a
    // grid-only ladder (n = 0, every candidate at utility 0 — a uniform
    // grid draw that reveals nothing); without it the observed group
    // keys are asserted public (the dpNoisyCounts caveat)
    val (data, groups) = domain match {
      case None => (data0, data0.select(gCols: _*).distinct())
      case Some(d) =>
        require(groupCols.forall(d.columns.contains),
          s"domain must carry the group columns $groupCols, has ${d.columns.toSeq}")
        val d2 = d.select(gCols: _*).distinct()
        val semiCond = groupCols
          .map(c => data0(c) <=> d2(c)).reduce(_ && _)
        (data0.join(F.broadcast(d2), semiCond, "left_semi"), d2)
    }
    // the public grid, materialized once per released group: candidate
    // rows carry zero mass but anchor the rank ladder (and are the ONLY
    // releasable rows)
    val grid = groups
      .select(gCols :+ F.explode(F.expr(
        s"sequence(${candLo}L, ${candHi}L, ${candStep}L)")).as("__v"): _*)
      .withColumn("__c", F.lit(0L))
      .withColumn("__cand", F.lit(1))
    // r17 (guide §2.4): the old spelling re-AGGREGATED the union on
    // (group, value) to merge grid rows with data rows sharing a value —
    // a second corpus-distinct-sized exchange on (g, v) whose layout the
    // window pass then threw away for HashPartitioning(g). RANGE-framed
    // windows make the merge unnecessary: peers (a data row and a grid
    // row at the same __v) aggregate together inside the value-based
    // frames, so ONE repartition on the group key feeds every window AND
    // the final min — exchanges on the main path drop 3 → 2. Identity
    // (judge-me math): with cumBelow = Σc over values < v (the `below`
    // frame) and cumAt = Σc over values ≤ v (the default RANGE frame),
    // u = |cumBelow + cumAt − n| = |2·(cumAt − c_v) + c_v − n| — exactly
    // the old merged row's |2·cum + c − n|. Candidate rows are the grid's
    // (__cand = 1, __c = 0); data rows ride along with __w = 0, adding
    // nothing to the weight ladder.
    data.unionByName(grid)
      .repartition(gCols: _*)
      .withColumn("__cumB", F.coalesce(F.sum("__c").over(below), F.lit(0L)))
      .withColumn("__cumA", F.sum("__c").over(ladder))
      .withColumn("__n", F.sum("__c").over(byG))
      .withColumn("__u", F.abs(F.col("__cumB") + F.col("__cumA") - F.col("__n")))
      .withColumn("__w", F.expr(
        s"""CASE WHEN __cand = 1 THEN element_at($pArr,
              CAST(${clampB}L - least(__u, ${clampB}L) AS INT) + 1)
            ELSE 0L END"""))
      .withColumn("__cw", F.expr(
        "sum(CAST(__w AS DECIMAL(38,0)))").over(ladder))
      .withColumn("__tw", F.expr(
        "sum(CAST(__w AS DECIMAL(38,0)))").over(byG))
      .withColumn("__u60", F.expr(
        s"""CAST(conv(substring(md5(concat_ws(chr(1), $keyCols, '$seed:med')),
               1, 15), 16, 10) AS BIGINT)"""))
      // target = floor(u60·ΣW / 2^60) in DECIMAL ((p − p%w)/w — exact);
      // released value = first CANDIDATE row with cumW > target
      .withColumn("__tgt", F.expr(
        """CAST((CAST(__u60 AS DECIMAL(38,0)) * __tw
                 - CAST(__u60 AS DECIMAL(38,0)) * __tw % 1152921504606846976)
                / 1152921504606846976 AS DECIMAL(38,0))"""))
      .where(F.expr("__cand = 1 AND __cw > __tgt"))
      .groupBy(gCols: _*)
      .agg(F.min("__v").as("released_median"))
      .select(gCols :+ F.col("released_median"): _*)
  }

  /** ε-DP HISTOGRAM release — the fourth release primitive: per group,
    * a noisy count for EVERY bin of a fixed public binning (the
    * [[graft.functions.Scale.fixedBinHistogram]] boundary convention:
    * bin = #{boundaries ≤ v}, so bins 0..|boundaries| cover the whole
    * line including both open tails — the bin domain is public BY
    * CONSTRUCTION, every bin releases including empty ones). One row
    * lands in exactly one bin of one group, so the per-bin geometric
    * mechanisms compose in PARALLEL: the whole histogram costs
    * ε = ln(noiseBase) per release, same as a single count.
    *
    * Same exact-rational threshold table; the uniform draws per
    * (group, bin) with a `:hist`-tagged key (independent of the
    * count/sum/median releases of the same groups), released bins floor
    * at 0. Seed-secrecy caveat as [[dpNoisyCounts]]; the GROUP domain
    * carries the same unknown-domain caveat — pass `domain` to release
    * over a public group universe (absent groups release all-noise
    * histograms), or the observed group keys are asserted public.
    *
    * Scale shape: one map-side-combined (group, bin) groupBy — the bin
    * arithmetic runs in the scan stage — then a frame join against
    * |groups|·(bins+1) rows and per-CELL literal noise arithmetic;
    * nothing corpus-sized crosses the exchange beyond the binned
    * counts. */
  def dpHistogram(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  boundaries: Seq[Long], seed: Long,
                  noiseBase: Int = 2, clampB: Int = 32,
                  domain: Option[DataFrame] = None): DataFrame = {
    require(groupCols.nonEmpty, "no group columns given")
    require(boundaries.nonEmpty && boundaries == boundaries.sorted &&
      boundaries.distinct == boundaries,
      s"boundaries must be non-empty strictly ascending, got $boundaries")
    val thresholds = geometricThresholds(noiseBase, clampB)
    val tArr = thresholds.mkString("array(", "L, ", "L)")
    val gCols = groupCols.map(F.col)
    val keyCols = groupCols.map(c =>
      s"coalesce(CAST(`$c` AS STRING), chr(2))").mkString(", ")
    // codegen-friendly indicator-sum bin (Scale.indicatorBinExpr — ONE
    // definition for every binning face; NULL casts coalesce to bin 0)
    val binExpr = Scale.indicatorBinExpr(boundaries,
      s"CAST(`$valueCol` AS BIGINT)")
    val binned = df.where(F.col(valueCol).isNotNull)
      .groupBy(gCols :+ F.expr(binExpr).as("bin"): _*)
      .agg(F.count(F.lit(1)).as("__n"))
    // (domain-less path: the observed-group distinct and the frame join
    // both read this groupBy — Spark's exchange reuse runs the corpus
    // scan once; a localCheckpoint here measured SLOWER, r13 drill)
    val groups = domain match {
      case Some(d) =>
        require(groupCols.forall(d.columns.contains),
          s"domain must carry the group columns $groupCols, has ${d.columns.toSeq}")
        d.select(gCols: _*).distinct()
      case None => binned.select(gCols: _*).distinct()
    }
    // the public release frame: every (group, bin) cell
    val frame = groups.select(gCols :+ F.explode(F.expr(
      s"sequence(0L, ${boundaries.size}L)")).as("bin"): _*).alias("__frm")
    val obs = binned.alias("__obs")
    val joinCond = (groupCols.map(c =>
      F.col(s"__frm.$c") <=> F.col(s"__obs.$c")) :+
      (F.col("__frm.bin") === F.col("__obs.bin"))).reduce(_ && _)
    frame.join(obs, joinCond, "left")
      .select(groupCols.map(c => F.col(s"__frm.$c")) ++ Seq(
        F.col("__frm.bin").as("bin"),
        F.coalesce(F.col("__obs.__n"), F.lit(0L)).as("__n")): _*)
      .withColumn("__u", F.expr(
        s"""CAST(conv(substring(md5(concat_ws(chr(1), $keyCols,
               CAST(bin AS STRING), '$seed:hist')), 1, 15), 16, 10) AS BIGINT)"""))
      .withColumn("noisy_count", F.expr(
        s"""greatest(__n + CAST(size(filter($tArr, t -> t <= __u)) AS BIGINT)
               - ${clampB}L, 0L)"""))
      .select(gCols ++ Seq(F.col("bin"), F.col("noisy_count")): _*)
  }

  /** Column dependency/correlation audit — the statistic pair a CBO needs
    * beyond per-column NDV (q185): selectivity estimators multiply
    * per-column selectivities ASSUMING INDEPENDENCE, and correlated or
    * functionally dependent columns are exactly where that goes wrong.
    * For each ordered column pair (a → b) this reports:
    *   - `ndv_a`, `ndv_ab`: distinct counts of a and of the (a,b) tuple —
    *     `fd_ppm = ndv_a·1e6 DIV ndv_ab` hits 1,000,000 iff a
    *     functionally determines b (every a value maps to one b);
    *   - `tv_ppm`: total-variation distance between the joint
    *     distribution and the product of marginals,
    *     `Σ|c_ab·n − c_a·c_b| · 1e6 DIV (2n²)` — 0 iff independent, the
    *     exact mass a product-of-selectivities estimate misplaces.
    * All-integer (exact counts; the only divisions are non-negative and
    * DECIMAL(38,0)-widened), so the audit oracles cell-exact.
    *
    * NULL is treated as a category (inputs are sentinel-coalesced
    * strings) so null-heavy columns don't silently drop joint cells at
    * the marginal joins. Scale shape (r16): ONE map-side-combined corpus
    * groupBy on the full tuple of every audited column, then ONE
    * grouping-sets pass over that cell table producing every pair's
    * joint AND marginals AND the global total together — k pairs cost
    * one corpus scan plus one cell-scale aggregate, not ~5 exchanges per
    * pair. The scalar outputs (n, NDVs, TV numerators) fold driver-side
    * in exact BigInt (the q214/q217 discipline), so the returned frame
    * is a literal row per pair carrying the identical all-integer values.
    * Feed it banded/coarsened columns (the q189 discipline) — a
    * near-unique column would make the joint table corpus-sized, and
    * its NDV already says so via q185.
    *
    * That discipline is ENFORCED, not just documented (the counted-cap
    * pattern of the dedup bucket joins): the full-tuple cell count is
    * checked BEFORE the cell table is materialized (the count runs the
    * same map-side-combined aggregate and discards rows — an eager
    * checkpoint first would compute and store a corpus-scale table in
    * exactly the case the fallback exists for, ADVICE r15), and in the
    * per-pair fallback a pair whose joint exceeds `maxJointCells` fails
    * LOUDLY before any corpus-sized marginal join runs on it. Raise the
    * cap deliberately when a huge categorical cross really is intended. */
  def dependencyAudit(df: DataFrame, pairs: Seq[(String, String)],
                      maxJointCells: Long = 10000000L,
                      assumeUnderCap: Boolean = false): DataFrame = {
    require(pairs.nonEmpty, "no column pairs given")
    require(maxJointCells >= 1, s"maxJointCells must be >= 1, got $maxJointCells")
    val spark = df.sparkSession
    val allCols = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val proj = df.select(allCols.map(c =>
      F.coalesce(F.col(c).cast("string"), F.lit("\u0002")).as(s"__k_$c")): _*)
    val basePlan = proj
      .groupBy(allCols.map(c => F.col(s"__k_$c")): _*)
      .agg(F.count(F.lit(1)).as("__n"))
    // cap check BEFORE materialization (ADVICE r15): the count runs the
    // map-side-combined aggregate and DISCARDS rows — nothing corpus-scale
    // is computed-and-stored until the tuple cell count is known safe; if
    // it blows the cap (jointly high-NDV columns), the per-pair fallback
    // runs without ever storing the corpus-scale table. The under-cap case
    // pays the aggregate twice (count, then checkpoint) — cell-scale
    // shuffle output, cheap next to the corpus scan. A caller whose
    // projections are banded BY CONSTRUCTION (the q189 discipline, NDVs
    // verified via q185) can assert `assumeUnderCap` and skip the routing
    // scan — the cap is then verified on the materialized cell table and
    // a false assertion still fails loudly (after storing ≤ the actual
    // cell count, which the caller asserted small).
    val baseUsable = assumeUnderCap || basePlan.count() <= maxJointCells

    // the exact algebra both paths share, driver-side over the collected
    // scalars: tv = (num + n^2 - sp) * 1e6 DIV (2 n^2) — absent joint
    // cells (joint 0, product > 0) enter via the n^2 - sp term
    def tvOf(n: Long, num: java.math.BigDecimal,
             sp: java.math.BigDecimal): Long = {
      val nBig = BigInt(n)
      ((BigInt(num.toBigInteger) + nBig * nBig - BigInt(sp.toBigInteger)) *
        1000000 / (2 * nBig * nBig)).toLong
    }
    def fdOf(ndv: Long, ndvAB: Long): Long =
      (BigInt(ndv) * 1000000 / BigInt(math.max(ndvAB, 1L))).toLong

    type AuditRow = (String, String, Option[Long], Long, Long, Long,
      Long, Long, Option[Long])
    val rows: Seq[AuditRow] = if (baseUsable) {
      val base = Lineage.cut(basePlan.coalesce(4))
      // one grouping-sets aggregate over the cell table: every pair's
      // (a,b) joint plus both marginals, () for the global total, and the
      // FULL tuple (the cell count that verifies an assumeUnderCap
      // assertion inside the same job)
      val sets: Seq[Seq[String]] =
        (pairs.flatMap { case (a, b) =>
          Seq(Seq(a, b).distinct, Seq(a), Seq(b)) } ++
          Seq(Seq.empty[String], allCols)).distinct
      val gs = Lineage.cut(base.groupingSets(
          sets.map(_.map(c => F.col(s"__k_$c"))),
          allCols.map(c => F.col(s"__k_$c")): _*)
        .agg(F.sum("__n").as("__c"), F.grouping_id().as("__gid"))
        .coalesce(1))
      // grouping_id bitmask: bit set = column AGGREGATED AWAY (not in set)
      def gidOf(set: Seq[String]): Long =
        allCols.zipWithIndex.foldLeft(0L) { case (g, (c, i)) =>
          if (set.contains(c)) g else g | (1L << (allCols.size - 1 - i)) }
      val gidEmpty = gidOf(Seq.empty)
      // ONE job over the checkpointed gs computes everything: per-gid cell
      // counts/totals (ndv_* and n) UNION each pair's TV numerators (the
      // pair's joint rows joined to both marginals — cell-scale frames;
      // AQE turns the joins into broadcasts at runtime). A unified padded
      // schema (tag, key, two DECIMAL(38,0) scalars) lets one collect
      // carry both row kinds.
      val dec = "CAST(__cells AS DECIMAL(38,0))"
      val summaryF = gs.groupBy("__gid")
        .agg(F.count(F.lit(1)).as("__cells"), F.sum("__c").as("__tot"))
        .select(F.lit("gid").as("tag"), F.col("__gid").cast("string").as("key"),
          F.expr(dec).as("v1"),
          F.col("__tot").cast("decimal(38,0)").as("v2"))
      val nRow = gs.where(F.col("__gid") === gidEmpty)
        .select(F.col("__c").as("__ntot"))
      val tvFs = pairs.zipWithIndex.map { case ((a, b), i) =>
        val gidAB = gidOf(Seq(a, b).distinct)
        val joint = gs.where(F.col("__gid") === gidAB)
          .select(F.col(s"__k_$a").as("__a"), F.col(s"__k_$b").as("__b"),
            F.col("__c"))
        val ma = gs.where(F.col("__gid") === gidOf(Seq(a)))
          .select(F.col(s"__k_$a").as("__a"), F.col("__c").as("__ca"))
        val mb = gs.where(F.col("__gid") === gidOf(Seq(b)))
          .select(F.col(s"__k_$b").as("__b"), F.col("__c").as("__cb"))
        joint.join(F.broadcast(ma), Seq("__a")).join(F.broadcast(mb), Seq("__b"))
          .crossJoin(F.broadcast(nRow))
          .agg(F.sum(F.expr(
            """abs(CAST(__c AS DECIMAL(38,0)) * __ntot
                   - CAST(__ca AS DECIMAL(38,0)) * __cb)""")).as("v1"),
            F.sum(F.expr(
              "CAST(__ca AS DECIMAL(38,0)) * __cb")).as("v2"))
          .select(F.lit("tv").as("tag"), F.lit(i.toString).as("key"),
            F.col("v1"), F.col("v2"))
      }
      val collected = tvFs.foldLeft(summaryF)(_.unionByName(_)).collect()
      val summary: Map[Long, (Long, Option[Long])] = collected.iterator
        .filter(_.getString(0) == "gid").map { r =>
          r.getString(1).toLong -> (r.getDecimal(2).longValueExact(),
            Option(r.getDecimal(3)).map(_.longValueExact()))
        }.toMap
      val tvRaw: Map[Int, (Option[java.math.BigDecimal],
          Option[java.math.BigDecimal])] = collected.iterator
        .filter(_.getString(0) == "tv").map { r =>
          r.getString(1).toInt -> (Option(r.getDecimal(2)), Option(r.getDecimal(3)))
        }.toMap
      val n: Option[Long] = summary.get(gidEmpty).flatMap(_._2)
      if (assumeUnderCap) {
        val cells = summary.get(gidOf(allCols)).map(_._1).getOrElse(0L)
        if (cells > maxJointCells) {
          Lineage.release(base)
          throw new IllegalArgumentException(
            s"dependencyAudit: assumeUnderCap asserted but the full tuple " +
            s"has $cells joint cells > cap $maxJointCells — the audited " +
            "columns are not banded; drop the assertion or coarsen them")
        }
      }
      val out = pairs.zipWithIndex.map { case ((a, b), i) =>
        def cellsOf(g: Long) = summary.get(g).map(_._1).getOrElse(0L)
        val (ndvAB, ndvA, ndvB) =
          (cellsOf(gidOf(Seq(a, b).distinct)), cellsOf(gidOf(Seq(a))),
            cellsOf(gidOf(Seq(b))))
        val tvPpm: Option[Long] = n.flatMap { nv =>
          tvRaw.get(i) match {
            case Some((Some(num), Some(sp))) => Some(tvOf(nv, num, sp))
            case _ => None
          }
        }
        (a, b, n, ndvA, ndvB, ndvAB, fdOf(ndvA, ndvAB), fdOf(ndvB, ndvAB),
          tvPpm)
      }
      Lineage.release(gs)
      Lineage.release(base)
      out
    } else pairs.map { case (a, b) =>
      // per-pair corpus fallback (jointly high-NDV audited columns): one
      // scan per pair, the cap enforced on the pair's own joint before
      // any marginal join runs on it
      val joint = Lineage.cut(df
        .select(F.coalesce(F.col(a).cast("string"), F.lit("\u0002")).as("__a"),
          F.coalesce(F.col(b).cast("string"), F.lit("\u0002")).as("__b"))
        .groupBy("__a", "__b").agg(F.count(F.lit(1)).as("__c")))
      val cells = joint.count()
      require(cells <= maxJointCells,
        s"dependencyAudit: pair ($a, $b) has $cells joint cells > cap " +
        s"$maxJointCells — a near-unique column reached the audit; band/" +
        "coarsen it first (the q189 discipline; tableColumnStats' NDV " +
        "predicts this), or raise maxJointCells deliberately")
      val tot = joint.agg(F.sum("__c").as("n"),
        F.count(F.lit(1)).as("ndv_ab"),
        F.countDistinct("__a").as("ndv_a"),
        F.countDistinct("__b").as("ndv_b")).collect().head
      val n = Option(tot.get(0)).map(_.asInstanceOf[Long])
      val (ndvAB, ndvA, ndvB) = (tot.getLong(1), tot.getLong(2), tot.getLong(3))
      val tvPpm: Option[Long] = n.flatMap { nv =>
        val ma = joint.groupBy("__a").agg(F.sum("__c").as("__ca"))
        val mb = joint.groupBy("__b").agg(F.sum("__c").as("__cb"))
        val r = joint.join(ma, Seq("__a")).join(mb, Seq("__b"))
          .agg(F.sum(F.expr(
            s"""abs(CAST(__c AS DECIMAL(38,0)) * ${nv}L
                   - CAST(__ca AS DECIMAL(38,0)) * __cb)""")).as("__num"),
            F.sum(F.expr(
              "CAST(__ca AS DECIMAL(38,0)) * __cb")).as("__sp"))
          .collect().head
        (Option(r.getDecimal(0)), Option(r.getDecimal(1))) match {
          case (Some(num), Some(sp)) => Some(tvOf(nv, num, sp))
          case _ => None
        }
      }
      Lineage.release(joint)
      (a, b, n, ndvA, ndvB, ndvAB, fdOf(ndvA, ndvAB), fdOf(ndvB, ndvAB), tvPpm)
    }
    // literal result frame — the all-integer values are already exact
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("a_col", StringType, nullable = false),
      StructField("b_col", StringType, nullable = false),
      StructField("n", LongType, nullable = true),
      StructField("ndv_a", LongType, nullable = false),
      StructField("ndv_b", LongType, nullable = false),
      StructField("ndv_ab", LongType, nullable = false),
      StructField("fd_ab_ppm", LongType, nullable = true),
      StructField("fd_ba_ppm", LongType, nullable = true),
      StructField("tv_ppm", LongType, nullable = true)))
    val data = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.foreach { case (a, b, n, ndvA, ndvB, ndvAB, fdAB, fdBA, tv) =>
      data.add(org.apache.spark.sql.Row(a, b, n.map(Long.box).orNull,
        ndvA, ndvB, ndvAB, fdAB, fdBA, tv.map(Long.box).orNull))
    }
    spark.createDataFrame(data, schema)
  }
}

/** Exact-rational ε-BUDGET ACCOUNTANT for the DP release tier — basic
  * (sequential) composition made enforceable: k releases over the same
  * data compose to Σεᵢ, and a pipeline that keeps publishing silently
  * walks past any privacy target. Each release charges its privacy-loss
  * FACTOR e^ε — an exact integer, because every primitive's ε is an
  * integer multiple of ln(noiseBase): count/sum/histogram charge
  * `noiseBase¹`, the exponential-mechanism median `noiseBase²` — and the
  * ledger tracks the running PRODUCT Π e^εᵢ in BigInt. The budget is
  * given the same way: `maxLossFactor = e^(ε_budget)` (e.g.
  * `BigInt(2).pow(6)` for ε = 6·ln 2). `Σεᵢ ≤ ε_budget ⟺
  * Π factors ≤ maxLossFactor`, so the check is EXACT integer
  * arithmetic — no floating ln anywhere, the same no-floats discipline
  * as the releases themselves.
  *
  * A release that would exceed the budget throws BEFORE any plan is
  * built (loud failure, nothing released); the ledger of what was spent
  * rides in the exception. Every release draws a FRESH seed
  * (`baseSeed + release index`), so repeated releases of the same groups
  * are independent mechanism invocations — the property the streaming
  * face keys on its release index, made uniform across the batch tier.
  *
  * The accountant covers what it can see: releases made through THIS
  * instance. Publishing the same data through two accountants (or the
  * raw primitives) composes outside any ledger — one accountant per
  * data-release universe is the contract. Thread-safe. */
final class DpBudget(val maxLossFactor: BigInt, val baseSeed: Long) {
  require(maxLossFactor >= 1, s"maxLossFactor must be >= 1, got $maxLossFactor")
  private var factor: BigInt = BigInt(1)
  private var idx: Long = 0L
  private val ledger = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]

  /** Multiply the running loss factor by base^mult, failing loudly if the
    * budget would be exceeded; returns the fresh per-release seed. */
  private def charge(label: String, base: Int, mult: Int): Long = synchronized {
    val f = factor * BigInt(base).pow(mult)
    if (f > maxLossFactor)
      throw new IllegalStateException(
        s"DP budget exhausted: release '$label' (factor $base^$mult) would " +
        s"bring the total privacy-loss factor to $f > $maxLossFactor; " +
        s"spent so far: ${ledger.map { case (l, b, m) => s"$l=$b^$m" }.mkString(", ")}")
    factor = f
    ledger += ((label, base, mult))
    idx += 1L
    baseSeed + idx
  }

  /** Running Π e^ε as a BigInt (ε_spent = ln of this). */
  def spentFactor: BigInt = synchronized(factor)
  /** (label, noiseBase, multiplicity) per release, in charge order. */
  def releases: Seq[(String, Int, Int)] = synchronized(ledger.toList)

  def noisyCounts(df: DataFrame, groupCols: Seq[String], noiseBase: Int = 2,
                  clampB: Int = 32, domain: Option[DataFrame] = None): DataFrame =
    Stats.dpNoisyCounts(df, groupCols,
      charge("count", noiseBase, 1), noiseBase, clampB, domain)

  def noisySums(df: DataFrame, groupCols: Seq[String], valueCol: String,
                clampC: Long, noiseBase: Int = 2, clampB: Int = 32,
                domain: Option[DataFrame] = None): DataFrame =
    Stats.dpNoisySums(df, groupCols, valueCol, clampC,
      charge("sum", noiseBase, 1), noiseBase, clampB, domain)

  def median(df: DataFrame, groupCols: Seq[String], valueCol: String,
             candLo: Long, candHi: Long, candStep: Long,
             noiseBase: Int = 2, clampB: Int = 32,
             domain: Option[DataFrame] = None): DataFrame =
    Stats.dpMedian(df, groupCols, valueCol,
      charge("median", noiseBase, 2), candLo, candHi, candStep,
      noiseBase, clampB, domain)

  def histogram(df: DataFrame, groupCols: Seq[String], valueCol: String,
                boundaries: Seq[Long], noiseBase: Int = 2, clampB: Int = 32,
                domain: Option[DataFrame] = None): DataFrame =
    Stats.dpHistogram(df, groupCols, valueCol, boundaries,
      charge("histogram", noiseBase, 1), noiseBase, clampB, domain)
}
