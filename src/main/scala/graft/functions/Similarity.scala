package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import graft.util.Lineage

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: the baseline is a brute-force scan (one pass, no shuffle,
  * top-k via `TakeOrderedAndProject` — k rows per partition cross the wire).
  * The scale path is IVF: a tiny broadcast centroid table assigns each
  * vector to a cell once (linear scan, no shuffle), queries probe only
  * `nProbe` cells — at 100 TB with 4k cells and nProbe=8 a query touches
  * ~0.2% of the corpus, and the cell assignment doubles as a partition key
  * for storage-side pruning (write the corpus partitioned by `cell`).
  */
object Similarity {

  /** Dot product of two array columns, computed in double left-to-right
    * (deterministic and engine-portable). */
  def dot(a: Column, b: Column): Column =
    F.aggregate(F.zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      F.lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = F.sqrt(dot(a, a))

  /** Cosine similarity — native single-pass expression
    * ([[graft.plans.Expressions.CosineSim]]); same left-to-right double
    * arithmetic as the `zip_with`/`aggregate` formulation, without the
    * per-element interpreted lambdas. */
  def cosine(a: Column, b: Column): Column =
    graft.plans.Expressions.cosineSim(a, b)

  /** Brute-force top-k by cosine against a literal query vector. */
  def bruteForceTopK(embeddings: DataFrame, embCol: String, idCol: String,
                     query: Seq[Double], k: Int): DataFrame = {
    val q = F.array(query.map(F.lit): _*)
    embeddings
      .select(F.col(idCol), cosine(F.col(embCol), q).as("score"))
      .orderBy(F.col("score").desc, F.col(idCol).asc)
      .limit(k)
  }

  /** Assign each vector to its nearest centroid (IVF cell). `centroids` is
    * broadcast (a few thousand rows at most); the argmin is computed with an
    * aggregate over the collected centroid array — single scan, no shuffle,
    * no window. Ties break to the lowest cell id.
    *
    * Norms are computed ONCE per vector and per centroid (not per pair):
    * each candidate pair costs one fused dot product — a 3× flop cut over
    * inline cosine, with bit-identical scores (`dot/(√na·√nb)`, each sum
    * left-to-right). */
  def ivfAssign(embeddings: DataFrame, embCol: String, idCol: String,
                centroids: DataFrame, centIdCol: String, centVecCol: String): DataFrame = {
    import graft.plans.Expressions.dotProd
    val cents = F.broadcast(centroids.select(
      F.col(centIdCol).as("__cid"), F.col(centVecCol).as("__cvec"),
      F.sqrt(dotProd(F.col(centVecCol), F.col(centVecCol))).as("__cnorm")))
    // zero-norm guard: a degenerate vector's cosine is undefined — NULL
    // here (ANSI mode makes a raw x/0 throw, not NaN). NULL negScore
    // sorts first in the min-struct, so such rows land deterministically
    // in the lowest cell id — the same tie DuckDB's NaN-first DESC sort
    // produces.
    val denom = F.col("__enorm") * F.col("__cnorm")
    embeddings
      .withColumn("__enorm", F.sqrt(dotProd(F.col(embCol), F.col(embCol))))
      .join(cents)
      .groupBy(F.col(idCol))
      .agg(F.min(F.struct(
        F.when(denom =!= 0.0,
          F.lit(-1.0) * (dotProd(F.col(embCol), F.col("__cvec")) / denom))
          .as("negScore"),
        F.col("__cid").as("cid"))).as("best"))
      .select(F.col(idCol), F.col("best.cid").as("cell"),
        (F.lit(-1.0) * F.col("best.negScore")).as("cell_score"))
  }

  /** Lloyd's k-means over the embedding column — the IVF centroid BUILD
    * path (seed centroids = first k vectors by id; each iteration is one
    * distributed pass: assign via [[ivfAssign]], re-center with an
    * elementwise mean — `posexplode` + groupBy(cell, dim), never collecting
    * vectors). Returns (cell, centroid array<double>).
    *
    * Each iteration's centroid table is CUT from its lineage (eager
    * checkpoint of k rows) and the previous iteration's cut released —
    * the same discipline as [[Dedup.duplicateClusters]] and `Bpe.train`.
    * Without the cut, `cents = recentered` re-nests the full
    * assign+recenter plan every iteration: analysis/optimization cost
    * balloons and lineage depth grows unboundedly — the wrong shape for
    * the tens-of-iterations IVF build this is documented as. Set a
    * checkpoint dir on a real cluster so the cuts are reliable (local
    * checkpoints die with an executor; k-row checkpoints are cheap either
    * way). */
  def kmeansCentroids(embeddings: DataFrame, embCol: String, idCol: String,
                      k: Int, iters: Int): DataFrame = {
    var cents = Lineage.cut(embeddings.orderBy(F.col(idCol)).limit(k)
      .select(F.col(idCol).as("cell"),
        F.transform(F.col(embCol), x => x.cast("double")).as("cvec")))
    var i = 0
    while (i < iters) {
      val assigned = ivfAssign(embeddings, embCol, idCol, cents, "cell", "cvec")
        .select(F.col(idCol), F.col("cell"))
        .join(embeddings.select(F.col(idCol), F.col(embCol)), idCol)
      val recentered = assigned
        .select(F.col("cell"), F.posexplode(F.col(embCol)).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(F.avg("x").as("mean"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct(F.col("dim"), F.col("mean")))).as("pairs"))
        .select(F.col("cell"),
          F.transform(F.col("pairs"), p => p.getField("mean")).as("cvec"))
      val prev = cents
      cents = Lineage.cut(recentered)
      // the new cut is materialized (eager): the previous iteration's
      // cut is dead — release it
      Lineage.release(prev)
      i += 1
    }
    cents
  }

  /** IVF search: probe the `nProbe` cells nearest to the query, brute-force
    * only within them. `assigned` = output of [[ivfAssign]] joined back to
    * the embeddings (or a table written partitioned by `cell`). */
  def ivfTopK(assigned: DataFrame, embCol: String, idCol: String,
              centroids: DataFrame, centIdCol: String, centVecCol: String,
              query: Seq[Double], k: Int, nProbe: Int): DataFrame = {
    val q = F.array(query.map(F.lit): _*)
    val probeCells = centroids
      .select(F.col(centIdCol).as("cell"), cosine(F.col(centVecCol), q).as("cscore"))
      .orderBy(F.col("cscore").desc, F.col("cell").asc)
      .limit(nProbe)
      .select("cell")
    assigned
      .join(F.broadcast(probeCells), "cell") // partition-prunable at scale
      .select(F.col(idCol), cosine(F.col(embCol), q).as("score"))
      .orderBy(F.col("score").desc, F.col(idCol).asc)
      .limit(k)
  }

  /** End-to-end ANN index build + query: k-means centroids → cell
    * assignment (the cell doubles as the storage partition key) → probe. */
  def annSearch(embeddings: DataFrame, embCol: String, idCol: String,
                k: Int, nCells: Int, kmeansIters: Int,
                query: Seq[Double], nProbe: Int): DataFrame = {
    val cents = kmeansCentroids(embeddings, embCol, idCol, nCells, kmeansIters)
    val assigned = ivfAssign(embeddings, embCol, idCol, cents, "cell", "cvec")
      .select(F.col(idCol), F.col("cell"))
      .join(embeddings.select(F.col(idCol), F.col(embCol)), idCol)
    ivfTopK(assigned, embCol, idCol, cents, "cell", "cvec", query, k, nProbe)
  }

  /** ANN parameter audit — the embedding-space mirror of
    * [[Dedup.lshRecallAudit]]: measured recall@k of the IVF probe path
    * against exact brute-force truth, per query, for a PROBE SET of query
    * vectors. The tuning step run before committing (nCells, nProbe) to a
    * corpus-scale index: IVF recall degrades exactly when a query's true
    * neighbors straddle a cell boundary its probes miss, and that loss is
    * a property of THIS corpus's geometry — it has to be measured, not
    * assumed.
    *
    * Cost shape: the query set is an eval artifact (dozens–hundreds of
    * vectors), broadcast by construction; truth is ONE corpus scan with
    * |queries| fused dot products per row, reduced by the native
    * heap-based [[graft.plans.TopK]] operator (per-query top-k with
    * partial reduction BEFORE the shuffle — only |queries|·k candidate
    * rows per partition leave the scan stage, never a corpus sort). The
    * ANN side runs the production path: [[ivfAssign]] + per-query probe
    * cells + within-cell scoring, reduced the same way. Output one row
    * per query: (qid, n_truth, hits, recall_ppm = hits·1e6 DIV n_truth);
    * n_truth = min(k, |corpus|) rows so the rate is honest on small
    * corpora. */
  def annRecallAudit(corpus: DataFrame, embCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qEmbCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    require(k > 0 && nProbe > 0, s"k and nProbe must be positive, got $k/$nProbe")
    val qn = F.broadcast(queries.select(
      F.col(qIdCol).as("qid"), F.col(qEmbCol).as("__qv")))
    val truthScored = corpus
      .select(F.col(idCol).as("id"), F.col(embCol).as("__v"))
      .join(qn)
      .select(F.col("qid"), F.col("id"),
        cosine(F.col("__v"), F.col("__qv")).as("score"))
    val truth = graft.plans.TopK.topKPerKey(truthScored, Seq("qid"), "score",
      desc = true, tieBreak = Seq("id"), k = k).select("qid", "id")
    val cents = F.broadcast(centroids.select(
      F.col(centIdCol).as("cell"), F.col(centVecCol).as("__cv")))
    val probeScored = queries
      .select(F.col(qIdCol).as("qid"), F.col(qEmbCol).as("__qv"))
      .join(cents)
      .select(F.col("qid"), F.col("cell"),
        cosine(F.col("__qv"), F.col("__cv")).as("cscore"))
    val probes = graft.plans.TopK.topKPerKey(probeScored, Seq("qid"), "cscore",
      desc = true, tieBreak = Seq("cell"), k = nProbe).select("qid", "cell")
    val assigned = ivfAssign(corpus, embCol, idCol,
        centroids, centIdCol, centVecCol)
      .select(F.col(idCol).as("id"), F.col("cell"))
      .join(corpus.select(F.col(idCol).as("id"), F.col(embCol).as("__v")), "id")
    val annScored = assigned
      .join(F.broadcast(probes), "cell")
      .join(qn, "qid")
      .select(F.col("qid"), F.col("id"),
        cosine(F.col("__v"), F.col("__qv")).as("score"))
    val ann = graft.plans.TopK.topKPerKey(annScored, Seq("qid"), "score",
      desc = true, tieBreak = Seq("id"), k = k).select("qid", "id")
    // ann is ≤ |queries|·k rows by construction — broadcast it so the
    // intersection is the right plan even before AQE sees runtime sizes
    val hits = truth.join(F.broadcast(ann), Seq("qid", "id"))
      .groupBy("qid").agg(F.count(F.lit(1)).as("hits"))
    // both report sides are |queries|-row aggregates, but they sit above
    // TopK outputs whose stats the planner can't see — hint the broadcast
    // so the final stitch never falls back to a sort-merge join
    truth.groupBy("qid").agg(F.count(F.lit(1)).as("n_truth"))
      .join(F.broadcast(hits), Seq("qid"), "left_outer")
      .select(F.col("qid"), F.col("n_truth"),
        F.coalesce(F.col("hits"), F.lit(0L)).as("hits"))
      .withColumn("recall_ppm", F.expr("hits * 1000000L DIV n_truth"))
  }

  /** Hard-negative mining for contrastive training (DPR/retriever data
    * prep): for each anchor query, the documents ranked just BELOW its
    * nearest neighbors — similar enough to be informative, far enough to
    * be (presumed) negatives. Per query: rank the corpus by cosine, take
    * the (skipK, poolK] band as the hard pool, then pick `m` of them by
    * smallest md5 of `hn|qid|id` — a deterministic, engine-portable
    * "random" draw, so reruns and the oracle agree row-for-row.
    *
    * Same cost shape as [[annRecallAudit]]'s truth side: one corpus scan
    * with |queries| fused dots per row, per-query top-poolK through the
    * native heap operator; the rank/draw windows then run over ≤ poolK
    * rows per query. Returns (qid, id, rank) — rank within the full
    * ranking, 1-based, so downstream can weight by hardness. */
  def hardNegatives(corpus: DataFrame, embCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qEmbCol: String,
      skipK: Int, poolK: Int, m: Int): DataFrame = {
    require(0 <= skipK && skipK < poolK && m > 0,
      s"need 0 <= skipK < poolK and m > 0, got skipK=$skipK poolK=$poolK m=$m")
    val qn = F.broadcast(queries.select(
      F.col(qIdCol).as("qid"), F.col(qEmbCol).as("__qv")))
    val scored = corpus
      .select(F.col(idCol).as("id"), F.col(embCol).as("__v"))
      .join(qn)
      .select(F.col("qid"), F.col("id"),
        cosine(F.col("__v"), F.col("__qv")).as("score"))
    val top = graft.plans.TopK.topKPerKey(scored, Seq("qid"), "score",
      desc = true, tieBreak = Seq("id"), k = poolK)
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(F.col("score").desc, F.col("id").asc)
    val pool = top
      .withColumn("rank", F.row_number().over(byScore).cast("long"))
      .where(F.col("rank") > skipK)
      .withColumn("__draw", F.md5(F.concat_ws("|",
        F.lit("hn"), F.col("qid").cast("string"), F.col("id").cast("string"))))
    val byDraw = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(F.col("__draw").asc, F.col("id").asc)
    pool
      .withColumn("__pick", F.row_number().over(byDraw))
      .where(F.col("__pick") <= m)
      .select("qid", "id", "rank")
  }

  /** Exact near-dup pairs by brute-force self-join — the verification-grade
    * face (bound the input first; the LSH-bucketed
    * [[embeddingNearDupPairs]] is the corpus-scale path). */
  def bruteForceNearDupPairs(embeddings: DataFrame, embCol: String, idCol: String,
                             threshold: Double): DataFrame = {
    val l = embeddings.select(F.col(idCol).as("a"), F.col(embCol).as("va"))
    val r = embeddings.select(F.col(idCol).as("b"), F.col(embCol).as("vb"))
    l.join(r, F.col("a") < F.col("b"))
      .withColumn("score", cosine(F.col("va"), F.col("vb")))
      .where(F.col("score") >= threshold)
      .select("a", "b", "score")
  }

  /** Random-hyperplane LSH bucket for cosine similarity: `nBits` sign bits
    * from deterministic pseudo-random hyperplanes (seeded per bit from
    * xxhash64 of the element index — no stored model). Vectors in the same
    * bucket are near-dup candidates. Native single-pass expression
    * ([[graft.plans.Expressions.RhpBucket]]): the sign matrix is built once
    * per task and all bits fold in one pass over the vector — the
    * interpreted spelling costs `nBits × dim` lambda evals per row, which
    * would dominate the ANN bucketing pass at corpus scale. */
  def rhpBucket(emb: Column, dim: Int, nBits: Int, seed: Long = 42L): Column =
    graft.plans.Expressions.rhpBucket(emb, dim, nBits, seed)

  /** Column-tier (zip_with/aggregate) spelling of [[rhpBucket]] — kept as
    * the executable spec the native expression is parity-tested against
    * (FunctionsSpec); not the production path. */
  def rhpBucketColumns(emb: Column, dim: Int, nBits: Int, seed: Long = 42L): Column = {
    val bits = (0 until nBits).map { bit =>
      // deterministic ±1 hyperplane: sign((xxhash64(seed,bit,i) % 2)*2-1)
      val proj = F.aggregate(
        F.zip_with(emb, F.sequence(F.lit(0), F.lit(dim - 1)), (x, i) => {
          val h = F.xxhash64(F.lit(seed), F.lit(bit), i)
          x.cast("double") * F.when(h.bitwiseAND(1L) === 1L, 1.0).otherwise(-1.0)
        }),
        F.lit(0.0), (acc, v) => acc + v)
      F.when(proj > 0, F.shiftleft(F.lit(1L), bit)).otherwise(F.lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Embedding near-duplicate pairs above a cosine threshold, LSH-bucketed:
    * self-join only within RHP buckets, then exact cosine verification. */
  def embeddingNearDupPairs(embeddings: DataFrame, embCol: String, idCol: String,
                            dim: Int, threshold: Double, nBits: Int = 8): DataFrame = {
    val bucketed = embeddings.select(F.col(idCol), F.col(embCol),
      rhpBucket(F.col(embCol), dim, nBits).as("__bk"))
    val l = bucketed.select(F.col(idCol).as("a"), F.col(embCol).as("va"), F.col("__bk"))
    val r = bucketed.select(F.col(idCol).as("b"), F.col(embCol).as("vb"), F.col("__bk"))
    l.join(r, "__bk").where(F.col("a") < F.col("b"))
      .withColumn("score", cosine(F.col("va"), F.col("vb")))
      .where(F.col("score") >= threshold)
      .select("a", "b", "score")
  }

  /** Per-group mean embedding (centroid / mean-pooling), flattened to
    * (group, pos, mean, sum_ppm, n) rows. Reproducibility comes from the
    * integer-ppm discipline (the q108/q149 pattern): each value is scaled
    * to micro-units per row (`round(v * 1e6)` — exact and identical in any
    * engine), and the per-dimension total is an exact integer `sum`, which
    * is ORDER-FREE — no collect, no sort, O(1) aggregation buffer. The
    * double `mean` is derived from the exact fraction with a pinned
    * operation order (`sum_ppm → /1e6 → /n`, two IEEE divisions), so it is
    * bit-identical across engines too. `kmeansCentroids` is the
    * performance-tier variant (plain avg over raw doubles) when
    * cross-engine bit-stability is not required.
    *
    * Scale shape: one explode + ONE hash aggregation shuffle, constant
    * state per (group, dimension). The previous spelling
    * (`collect_list` + `array_sort` + fold) held every member value in the
    * aggregation buffer — unbounded for a hot group (a single source with
    * millions of vectors = millions of doubles in one buffer); the ppm sum
    * makes the buffer one long regardless of group size. Overflow headroom:
    * unit-normalized values scale to ≤1e6 per row, so a single
    * (group, dim) cell would need >9.2e12 members to overflow the BIGINT
    * sum — far past the scale contract. */
  def meanVector(df: DataFrame, groupCol: String, embCol: String): DataFrame =
    df.select(F.col(groupCol),
        F.posexplode(F.col(embCol)).as(Seq("pos", "v")))
      .groupBy(F.col(groupCol), F.col("pos").cast("long").as("pos"))
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.round(F.col("v").cast("double") * F.lit(1e6)).cast("long"))
          .as("sum_ppm"))
      .withColumn("mean",
        F.col("sum_ppm").cast("double") / F.lit(1e6) / F.col("n").cast("double"))
      .select(groupCol, "pos", "mean", "sum_ppm", "n")

  /** Pairwise co-moment matrix of an embedding column — the exact
    * sufficient statistics for covariance/whitening (PCA prep): per
    * dimension pair (i <= j), `n`, `sum_prod` = Σ qᵢqⱼ, `sum_i` = Σ qᵢ,
    * `sum_j` = Σ qⱼ over integer-ppm components `q = round(x·1e6)` (the
    * [[meanVector]] discipline — exact and identical in any engine).
    * Covariance follows as `(n·sum_prod − sum_i·sum_j) / (n²·1e12)` in
    * consumer space; shipping the integer moments instead of the divided
    * double keeps the face cell-exact AND mergeable (moments from corpus
    * slices just add — the property that lets a 100 TB scan accumulate
    * per-partition moments and combine).
    *
    * Scale shape: the n·d² pair generation runs INSIDE the scan stage
    * (two codegen'd Generates, no data crosses), and the only exchange
    * moves d(d+1)/2 partial aggregates per partition — map-side combine
    * makes the shuffle O(d²), corpus-size-free. The per-pair products
    * (≤1e12 for unit-normalized inputs) sum through DECIMAL(38,0), so
    * the accumulator has ~1e26 rows of headroom — and `sum_prod` is
    * EMITTED as DECIMAL(38,0) so that headroom survives the operator
    * boundary (an in-operator BIGINT cast would cap it at ~9.2e6
    * worst-case rows, contradicting the mergeable-at-100TB story);
    * sf-sized oracle-facing callers cast to BIGINT themselves. */
  def coMomentMatrix(df: DataFrame, embCol: String): DataFrame =
    df.where(F.col(embCol).isNotNull)
      .select(F.transform(F.col(embCol),
        x => F.round(x.cast("double") * F.lit(1e6)).cast("long")).as("__q"))
      .select(F.posexplode(F.col("__q")).as(Seq("i", "qi")), F.col("__q"))
      .select(F.col("i"), F.col("qi"),
        F.posexplode(F.col("__q")).as(Seq("j", "qj")))
      .where(F.col("j") >= F.col("i"))
      .groupBy(F.col("i").cast("long").as("i"), F.col("j").cast("long").as("j"))
      // r16 (guide §"expressions and codegen"): the product sum used to
      // accumulate DECIMAL(38,0) per row — a boxed BigDecimal update on the
      // n·d²-row hot path. Split each |p| ≤ 1e12 product into exact hi/lo
      // BIGINT parts (p = (p DIV 2²⁰)·2²⁰ + p % 2²⁰ — truncating DIV and
      // dividend-sign % make the identity hold for either sign), sum both
      // as primitive longs, and reassemble the DECIMAL(38,0) once per
      // OUTPUT CELL. Values and schema are bit-identical; the mergeable
      // headroom becomes ~9.7e12 rows per (i,j) cell (|hi-term| ≤ 2²⁰·…
      // ≈ 9.5e5 — a 100 TB corpus of ~2e11 vectors stays 50× inside it).
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.expr("qi * qj DIV 1048576")).as("__hi"),
        F.sum(F.expr("qi * qj % 1048576")).as("__lo"),
        F.sum("qi").as("sum_i"),
        F.sum("qj").as("sum_j"))
      .select(F.col("i"), F.col("j"), F.col("n"),
        F.expr("CAST(CAST(__hi AS DECIMAL(38,0)) * 1048576 + __lo AS DECIMAL(38,0))")
          .as("sum_prod"),
        F.col("sum_i"), F.col("sum_j"))

  /** Top principal direction of the embedding covariance — fixed-K power
    * iteration over [[coMomentMatrix]]'s integer sufficient statistics,
    * the eigensolve step of whitening/PCA prep (what a 100 TB corpus runs
    * before decorrelating or compressing its vectors). ALL-INTEGER so the
    * result is cell-exact in any engine: the covariance numerator
    * `C = n·sum_prod − sum_i·sum_j` stays un-divided (BigInt), the Gram
    * entry is `sign(C)·(|C| / n²)` (sign·abs-division — truncating and
    * flooring division agree on non-negatives, the only form Spark `DIV`
    * and DuckDB `//` share for signed values), and each iterate
    * re-normalizes to ±1e6 by `sign(w)·(|w|·1e6 / max|w|)`. K iterations
    * from the fixed all-ones start are pinned — convergence is a property
    * of the data, determinism is a property of the algorithm, and the
    * oracle replays the identical recurrence (recursive CTE).
    *
    * Scale shape: the corpus-sized work is [[coMomentMatrix]] (pair
    * generation in the scan stage, O(d²) corpus-size-free shuffle); the
    * d×d eigensolve itself is O(K·d²) integer ops on the driver over the
    * collected d(d+1)/2 moment rows — a bounded collect of the same class
    * as the BPE vocab table (d ≤ a few thousand by embedding-model
    * construction, 64 here). At 100 TB the moments accumulate
    * per-partition and merge; the eigensolve cost never changes. */
  def principalDirection(df: DataFrame, embCol: String,
                         iters: Int = 12): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = df.sparkSession
    val moments = coMomentMatrix(df, embCol)
      .select("i", "j", "n", "sum_prod", "sum_i", "sum_j").collect()
    require(moments.nonEmpty, "principalDirection: empty embedding corpus")
    val d = moments.iterator.map(_.getLong(1)).max.toInt + 1
    val gram = Array.ofDim[BigInt](d, d)
    moments.foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val n = BigInt(r.getLong(2))
      // sum_prod arrives as DECIMAL(38,0) — read it wide, never getLong
      val c = n * BigInt(r.getDecimal(3).toBigInteger) -
        BigInt(r.getLong(4)) * BigInt(r.getLong(5))
      val g = c.signum * (c.abs / (n * n))
      gram(i)(j) = g; gram(j)(i) = g
    }
    var v = Array.fill[BigInt](d)(BigInt(1000000))
    var it = 0
    var live = true
    while (it < iters && live) {
      val w = Array.tabulate(d) { i =>
        var acc = BigInt(0)
        var j = 0
        while (j < d) { acc += gram(i)(j) * v(j); j += 1 }
        acc
      }
      val m = w.iterator.map(_.abs).max
      if (m.signum == 0) live = false
      else v = w.map(x => x.signum * (x.abs * 1000000 / m))
      it += 1
    }
    import spark.implicits._
    v.toSeq.zipWithIndex
      .map { case (x, i) => (i.toLong, x.toLong) }
      .toDF("dim", "v_ppm")
  }

  /** Distributed projection of every embedding onto a driver-computed
    * integer direction (the [[principalDirection]] output) — the APPLY
    * half of the PCA-prep pipeline, and the general broadcast-model
    * shape: a tiny model (d longs) computed once rides into the scan
    * stage as a literal, and the corpus-sized work is one codegen'd
    * pass with zero shuffle. Output `proj` is the exact integer dot
    * `Σ v[k]·q[k]` over ppm components (`q = round(x·1e6)` — the
    * [[coMomentMatrix]] discipline), so "score along the principal
    * axis" is cell-exact in any engine; divide by 1e12 for the
    * real-valued projection downstream. Bounds: |v| ≤ 1e6, |q| ≤ ~1e6
    * ⇒ |proj| ≤ d·1e12 — safe in a Long through d ~ 9e6. */
  def principalProjection(df: DataFrame, idCol: String, embCol: String,
                          direction: Array[Long]): DataFrame = {
    require(direction.nonEmpty, "empty direction")
    val dirCol = F.array(direction.map(F.lit): _*)
    df.where(F.col(embCol).isNotNull)
      .select(F.col(idCol),
        F.aggregate(
          F.zip_with(dirCol, F.col(embCol), (v, x) =>
            v * F.round(x.cast("double") * F.lit(1e6)).cast("long")),
          F.lit(0L), (acc, p) => acc + p).as("proj"))
  }

  /** Per-dimension ROBUST location/scale of an embedding column — median
    * and MAD (median absolute deviation), the outlier-insensitive
    * standardization prep that complements [[coMomentMatrix]]'s moment
    * tier (a handful of corrupt vectors move a mean/variance arbitrarily
    * far; they move rank statistics by one rank). All-integer outputs
    * for cell-exact cross-engine parity: components scale to DOUBLED ppm
    * (`q2 = 2·round(x·1e6)` — even integers, so the n-even midpoint
    * interpolation of the exact percentile is itself an integer), and
    * deviations double again before the MAD percentile for the same
    * reason. Output per dimension: `n`, `med_ppm2` (= 2·median in ppm),
    * `mad_ppm4` (= 4·MAD in ppm) — divide by 2e6/4e6 downstream.
    *
    * Scale shape (r17, guide §2.4): one explode in the scan stage into a
    * SINGLE aggregation keyed by dimension (d groups — corpus-size-free
    * output) that buffers the dimension's sorted value list once and
    * reads median AND MAD from it — the old shape ran the corpus scan
    * twice (a percentile pass for the median, a broadcast-back join and
    * a second percentile pass for the MAD); since the exact tier buffers
    * each dimension's full value list either way, the second scan bought
    * nothing. Median is the same exact-percentile midpoint (even
    * integers in, integral midpoint out — `(lo + hi) / 2` with an even
    * sum is exact), MAD re-ranks the buffered deviations. This EXACT
    * tier still caps reducer parallelism at d — use it for exact answers
    * at moderate corpus sizes, and [[dimensionRobustStatsSketch]]
    * (bounded k values per dimension, deterministic, still oracle-exact)
    * as the production face at 100 TB scale.
    *
    * Memory: each dimension's group holds its sorted value list (`__vs`,
    * one long per non-null component) AND the sorted deviations
    * (`__devs`, same length) at once, about twice the dimension's values.
    * The two-pass `percentile` shape it replaced buffered a distinct-value
    * → count map instead, so on corpora whose values repeat (quantized or
    * low-cardinality embeddings) the buffer now grows with n rather than
    * with the distinct values — use [[dimensionRobustStatsSketch]] there. */
  def dimensionRobustStats(df: DataFrame, embCol: String): DataFrame = {
    val comps = df.where(F.col(embCol).isNotNull)
      .select(F.posexplode(F.col(embCol)).as(Seq("pos", "v")))
      .select(F.col("pos").cast("long").as("pos"),
        (F.round(F.col("v").cast("double") * F.lit(1e6)).cast("long") * 2L)
          .as("q2"))
    // exact-percentile(0.5) midpoint over a sorted array: ranks
    // (m+1) DIV 2 and (m+2) DIV 2 (1-based) coincide for odd m and are
    // the two middles for even m; their sum is even (all inputs are
    // doubled), so DIV 2 is exact — bit-identical to
    // percentile(x, 0.5) CAST AS LONG. collect_list skips NULLs exactly
    // as percentile does, so ranks read size(__vs), not n.
    def mid(arr: String): String =
      s"""CASE WHEN size($arr) > 0 THEN
            (element_at($arr, CAST((size($arr) + 1) DIV 2 AS INT)) +
             element_at($arr, CAST((size($arr) + 2) DIV 2 AS INT))) DIV 2
          END"""
    comps.groupBy("pos")
      .agg(F.count(F.lit(1)).as("n"),
        F.expr("array_sort(collect_list(q2))").as("__vs"))
      .withColumn("med_ppm2", F.expr(mid("__vs")))
      .withColumn("__devs", F.expr(
        "array_sort(transform(__vs, x -> abs(x - med_ppm2) * 2L))"))
      .withColumn("mad_ppm4", F.expr(mid("__devs")))
      .select("pos", "n", "med_ppm2", "mad_ppm4")
  }

  /** Sketch-backed per-dimension robust stats — [[dimensionRobustStats]]'
    * production face for corpora where buffering a dimension's full
    * value list is not an option: per dimension, median and MAD read
    * from the bottom-k hash sample (`Scale.quantileSketch`'s mechanism —
    * the k components whose row's `md5(id)` is lexicographically
    * smallest, a hash-deterministic uniform ROW sample, so every engine
    * replays the selection bit-for-bit and the face stays oracle-exact
    * despite being an estimate of the corpus statistic). Rank reads are
    * the lower nearest-rank convention of `Scale.quantileEstimate`
    * (rank `(500000·(n_samp−1)) DIV 10⁶` of the ascending sample); MAD
    * re-ranks the sample's own absolute deviations from the sampled
    * median. Same doubled/quadrupled-ppm integer scales as the exact
    * tier (`med_ppm2` = 2·median ppm, `mad_ppm4` = 4·MAD ppm), so the
    * two tiers are drop-in interchangeable downstream; sampling error
    * is the bottom-k O(1/√k) rank error. Output per dimension:
    * (`pos`, `n_samp`, `med_ppm2`, `mad_ppm4`).
    *
    * One hash per ROW (computed before the explode), so every dimension
    * samples the same documents — a document-level uniform sample read
    * d ways, which is exactly the correlated-sample any downstream
    * whitening wants.
    *
    * Scale shape: one explode in the scan stage into the native
    * distinct-heap TopK — ≤ k rows per (dimension, partition) cross the
    * exchange, the aggregation that follows reuses the TopK's own
    * hash-partitioning (no second shuffle), and per-dimension memory is
    * a flat k·8 bytes whatever the corpus size. The d-reducer
    * parallelism cap of the exact tier remains (d groups), but each
    * group's work is O(k log k), not O(n). */
  def dimensionRobustStatsSketch(df: DataFrame, idCol: String,
                                 embCol: String, k: Int = 1024): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val comps = df.where(F.col(embCol).isNotNull && F.col(idCol).isNotNull)
      .select(F.md5(F.col(idCol).cast("string")).as("__h"),
        F.posexplode(F.col(embCol)).as(Seq("pos", "v")))
      .select(F.col("pos").cast("long").as("pos"), F.col("__h"),
        (F.round(F.col("v").cast("double") * F.lit(1e6)).cast("long") * 2L)
          .as("__v"))
    val rank = "CAST((500000 * (n_samp - 1)) DIV 1000000 AS INT) + 1"
    graft.plans.TopK.topKPerKey(comps, Seq("pos"), "__h",
        desc = false, tieBreak = Seq("__v"), k = k, distinct = true)
      .groupBy("pos")
      .agg(F.expr("array_sort(collect_list(__v))").as("__vs"),
        F.count(F.lit(1)).as("n_samp"))
      .withColumn("med_ppm2", F.expr(s"element_at(__vs, $rank)"))
      .withColumn("mad_ppm4", F.expr(
        s"element_at(array_sort(transform(__vs, x -> abs(x - med_ppm2) * 2L)), $rank)"))
      .select("pos", "n_samp", "med_ppm2", "mad_ppm4")
  }

  /** Streaming face of [[dimensionRobustStatsSketch]]: embeddings
    * arrive as a stream, each dimension's bottom-k hash sample
    * accumulates in the state store, and every batch re-emits the
    * sample's (n_samp, med_ppm2, mad_ppm4) per touched dimension — the
    * live index-preflight monitor. Streaming == batch over the union of
    * arrivals is the KMV merge identity, spec-pinned. */
  def streamingDimensionRobustStats(stream: DataFrame, idCol: String,
      embCol: String, k: Int = 1024,
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val spark = stream.sparkSession
    import spark.implicits._
    stream.where(F.col(embCol).isNotNull && F.col(idCol).isNotNull)
      .select(F.col(idCol).cast("string").as("__id"),
        F.posexplode(F.col(embCol)).as(Seq("pos", "v")))
      .select(F.col("pos").cast("string").as("k"), F.col("__id"),
        (F.round(F.col("v").cast("double") * F.lit(1e6)).cast("long") * 2L)
          .as("__v"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new graft.streaming.StateStoreRunner.RobustStatsSketchProcessor(k, ttl),
        graft.streaming.StateStoreRunner.ttlTimeMode(ttl),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("pos", "n_samp", "med_ppm2", "mad_ppm4")
      .withColumn("pos", F.col("pos").cast("long"))
  }

  /** Robust embedding outlier audit — flag corrupt, degenerate, or
    * out-of-distribution vectors before they poison an index or a
    * training mix: per dimension, the corpus median and MAD (the
    * [[dimensionRobustStats]] tier — rank statistics shrug off the very
    * outliers being hunted, unlike mean/variance); per vector, the sum
    * of per-dimension robust z-scores in ppm
    * (`|x−median| / MAD`, capped at `capPpm` so one dead dimension with
    * MAD≈0 can't saturate the score alone); output the `topN` highest
    * scores. All-integer in the q178 doubled/quadrupled-ppm scales, so
    * the face oracles cell-exact. Vectors must share one dimensionality
    * (the corpus contract every embedding table already has) — a shorter
    * vector would fault on the model fold.
    *
    * Scale shape: the stats tier is q178's (posexplode into d-keyed
    * percentile aggregates); the d-long median/MAD arrays then ride into
    * the scan as a broadcast model (the q182 train-small/apply-everywhere
    * shape) — one codegen'd fold per vector, and the only corpus-sized
    * exchange is the bounded TopK heap (≤ topN·partitions rows). */
  def robustOutliers(df: DataFrame, idCol: String, embCol: String,
                     topN: Int = 10, capPpm: Long = 10000000L,
                     sketchK: Int = 512): DataFrame = {
    require(topN > 0 && capPpm > 0)
    // the DEFAULT stats tier is the bottom-k sketch (VERDICT r13 #5):
    // flat per-dimension memory whatever the corpus — the scale-safe
    // face should not be opt-in. sketchK = 0 opts into the EXACT tier
    // (full per-dimension value buffers, d-capped reducers — moderate
    // corpora only); both tiers emit the same (med_ppm2, mad_ppm4)
    // scales so the fold below is unchanged
    val stats =
      if (sketchK > 0) dimensionRobustStatsSketch(df, idCol, embCol, sketchK)
      else dimensionRobustStats(df, embCol)
    // LAZY cut (r17): the 1-row model feeds exactly one broadcast — the
    // eager checkpoint paid a separate blocking job before the broadcast
    // build could start; the lazy cut materializes inside the broadcast
    // build itself (same single stats computation, one fewer job barrier)
    val model = Lineage.cut(stats
      .agg(F.sort_array(F.collect_list(
        F.struct(F.col("pos"), F.col("med_ppm2"), F.col("mad_ppm4")))).as("__s"))
      .select(F.expr("transform(__s, x -> x.med_ppm2)").as("__med2"),
        F.expr("transform(__s, x -> x.mad_ppm4)").as("__mad4")), eager = false)
    val scored = df.where(F.col(embCol).isNotNull)
      .select(F.col(idCol), F.col(embCol).as("__e"))
      .crossJoin(F.broadcast(model))
      .withColumn("score", F.expr(
        s"""aggregate(sequence(1, size(__med2)), 0L, (acc, i) ->
              acc + least(
                CAST(CAST(abs(CAST(round(CAST(element_at(__e, i) AS DOUBLE)
                                         * 1000000) AS BIGINT) * 2
                              - element_at(__med2, i)) * 2 AS DECIMAL(38,0))
                     * 1000000 DIV greatest(element_at(__mad4, i), 1L)
                     AS BIGINT),
                ${capPpm}L))"""))
      .select(F.col(idCol), F.col("score"))
    graft.plans.TopK.topKPerKey(scored, Nil, "score",
      desc = true, tieBreak = Seq(idCol), k = topN)
  }

  /** Int8 quantization of an embedding column — the storage-shrink step a
    * 100 TB vector corpus runs before indexing (4× smaller payloads,
    * integer-SIMD dot products). Per-vector symmetric scale `127 / max|x|`;
    * emits the scale (needed to dequantize) plus integer-sum checks. Pure
    * per-row Column arithmetic — no shuffle, runs in the scan stage. */
  def quantizeInt8(df: DataFrame, embCol: String, idCol: String): DataFrame = {
    val v = F.transform(F.col(embCol), _.cast("double"))
    df.select(F.col(idCol), v.as("__v"),
        F.array_max(F.transform(v, x => F.abs(x))).as("max_abs"))
      .withColumn("scale", F.lit(127.0) / F.col("max_abs"))
      .withColumn("q_sum",
        F.aggregate(F.transform(F.col("__v"),
            x => F.round(x * F.col("scale")).cast("long")),
          F.lit(0L), (acc, x) => acc + x))
      .select(idCol, "max_abs", "scale", "q_sum")
  }

  /** SEMANTIC decontamination — the embedding-space mirror of
    * [[Dedup.decontaminate]]'s n-gram form: drop corpus rows whose cosine
    * to ANY eval-set vector reaches `threshold` (paraphrased benchmark
    * leakage that exact n-grams cannot catch).
    *
    * Scale shape mirrors the n-gram form: the eval set is broadcast
    * (small by definition) and the whole operator is ONE anti-join whose
    * condition is the codegen'd [[cosine]] expression — zero exchanges,
    * corpus rows never leave their scan stage. For eval sets past
    * broadcast size, pre-bucket both sides with [[rhpBucket]] and
    * intersect buckets first (the LSH candidate path), then apply this
    * check to candidates only.
    *
    * Degenerate embeddings: a zero-norm vector's cosine is NaN, and BOTH
    * Spark and DuckDB order NaN above every finite threshold — without a
    * guard such a row silently counts as contaminated by everything. The
    * condition excludes NaN explicitly: undefined similarity is NOT
    * contamination (filter degenerate embeddings upstream if they should
    * be dropped). */
  def semanticDecontaminate(corpus: DataFrame, idCol: String, embCol: String,
                            evalSet: DataFrame, evalEmbCol: String,
                            threshold: Double): DataFrame = {
    // ONE broadcast anti-join with the cosine as its condition: zero
    // exchanges, single corpus pass (a contaminated-ids distinct +
    // second join would shuffle ids and rescan for nothing — ids are
    // unique per row here)
    val sim = cosine(F.col(embCol), F.col("__ev"))
    corpus.join(F.broadcast(evalSet.select(F.col(evalEmbCol).as("__ev"))),
      !F.isnan(sim) && sim >= threshold, "left_anti")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
    * by clustering embeddings and pruning near-identical vectors WITHIN each
    * cluster — the cluster is the blocking key, so the corpus is never
    * all-pairs'd. A vector is dropped when some LOWER-id vector in the same
    * cell reaches `threshold` cosine (the paper's greedy keep-one rule,
    * made deterministic by keying on id instead of arrival order). Returns
    * the kept rows as (id, cell).
    *
    * Scale shape: assignment is [[ivfAssign]] (broadcast centroids, no
    * shuffle); the within-cell self-join shuffles on the cell id, and cell
    * populations are bounded by the centroid count chosen at build time
    * (the paper uses ~100k clusters at web scale, keeping cells small), so
    * the pair work per cell stays O(cell²) with a small cell — the same
    * never-all-pairs discipline as [[embeddingNearDupPairs]]. Norms are
    * computed once per row, not per pair. NaN cosines (zero-norm vectors)
    * are explicitly NOT duplicates, mirroring [[semanticDecontaminate]]. */
  def semDedup(embeddings: DataFrame, idCol: String, embCol: String,
               centroids: DataFrame, centIdCol: String, centVecCol: String,
               threshold: Double,
               maxCellSize: Int = 100000): DataFrame = {
    import graft.plans.Expressions.dotProd
    Dedup.registerDropWarnListener(embeddings.sparkSession)
    // Scan-parallelism guard: the N×k assignment join runs INSIDE the scan
    // stage (broadcast centroids — no shuffle below it), so input splits
    // are its ONLY parallelism. Embedding parquet compresses hard (64
    // floats/row), and a corpus that is one small/unsplittable file would
    // serialize the densest pass of this pipeline on one core (measured:
    // 200 s on 1 of 16 cores at 200k×1600 — SCALE.md §1b) while every
    // later stage fans out through its shuffle. Widening is safe here
    // because each row's cell is a per-row argmin and the dup predicate is
    // exact per pair — output is partitioning-independent. (kmeans/search
    // callers of ivfAssign don't get this automatically: their re-center
    // means would change float-accumulation order.)
    val par = embeddings.sparkSession.sparkContext.defaultParallelism
    val emb0 = if (embeddings.rdd.getNumPartitions < par)
      embeddings.repartition(par) else embeddings
    // the assignment frame feeds BOTH pair sides and the kept output —
    // cut it once so the broadcast-assign pass runs once, not three times
    // (on a real cluster this is the "write the corpus partitioned by
    // cell" materialization; set a checkpoint dir there)
    val assigned = Lineage.cut(
      ivfAssign(emb0, embCol, idCol, centroids, centIdCol, centVecCol)
        .select(F.col(idCol), F.col("cell"))
        .join(embeddings.select(F.col(idCol), F.col(embCol)), Seq(idCol))
        .withColumn("__norm", F.sqrt(dotProd(F.col(embCol), F.col(embCol)))))
    // Oversize-cell guard (same counted-drop discipline as
    // lshCandidatePairs): cell population is bounded by centroid count at
    // BUILD time, but a degenerate build (few centroids, or one centroid
    // swallowing a dense region) makes a cell's O(cell²) pair join explode.
    // Cells over `maxCellSize` are excluded from pair generation — their
    // rows are KEPT (not deduped), the drop is counted via `observe`
    // (`graft.semdedup` → dropped_cells / max_cell, WARN on completion),
    // and [[semDedupOversizeCells]] is the audit face. Cells of 1 produce
    // no pairs, so they're filtered here too (plan-size only, not a drop).
    val okCells = assigned.groupBy("cell").agg(F.count(F.lit(1)).as("__n"))
      .where(F.col("__n") > 1)
      .observe(s"graft.semdedup.${Dedup.observeSeq.incrementAndGet()}",
        F.sum(F.when(F.col("__n") > maxCellSize, 1L).otherwise(0L))
          .as("dropped_cells"),
        F.max(F.col("__n")).as("max_cell"))
      .where(F.col("__n") <= maxCellSize)
      .select(F.col("cell").as("__okcell"))
    // distinct key names per side: both sides share lineage through
    // `assigned`, so `l("cell") === r("cell")` would resolve to ONE
    // attribute and trip Spark's "trivially true equals predicate" WARN
    // (masking real self-join bugs elsewhere); renamed keys join cleanly
    val l = assigned.select(F.col("cell").as("__lcell"), F.col(idCol).as("__a"),
      F.col(embCol).as("__av"), F.col("__norm").as("__an"))
      .join(okCells, F.col("__lcell") === F.col("__okcell"), "left_semi")
    val r = assigned.select(F.col("cell").as("__rcell"), F.col(idCol).as("__b"),
      F.col(embCol).as("__bv"), F.col("__norm").as("__bn"))
    // ANSI-safe: zero-norm rows get NULL similarity (undefined), which can
    // never satisfy the threshold — degenerate vectors are not duplicates
    val denom = F.col("__an") * F.col("__bn")
    val sim = F.when(denom =!= 0.0,
      dotProd(F.col("__av"), F.col("__bv")) / denom)
    val dups = l.join(r,
        F.col("__lcell") === F.col("__rcell") && F.col("__a") > F.col("__b") &&
        !F.isnan(sim) && sim >= F.lit(threshold))
      .select(F.col("__a").as(idCol)).distinct()
    assigned.select(F.col(idCol), F.col("cell"))
      .join(dups, Seq(idCol), "left_anti")
  }

  /** The cells [[semDedup]] would SKIP at this cap — the audit face of the
    * "no silent caps" rule (cheap: one count per cell, no pair expansion).
    * Run it when the WARN-on-completion channel isn't enough — e.g. to
    * quarantine a dense region for a re-clustered pass with more centroids
    * instead of leaving it undeduped. */
  def semDedupOversizeCells(embeddings: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String,
      maxCellSize: Int = 100000): DataFrame =
    ivfAssign(embeddings, embCol, idCol, centroids, centIdCol, centVecCol)
      .groupBy("cell").agg(F.count(F.lit(1)).as("n_members"))
      .where(F.col("n_members") > maxCellSize)

  /** IVF index cell-balance audit: per cell, its member count and corpus
    * share in ppm. A skewed index serves most queries from a few huge
    * cells (probe cost ∝ cell size) while the rest sit empty — this is
    * the number you check before shipping centroids built by
    * [[kmeansCentroids]], and the re-cluster trigger for dense regions
    * (the same signal [[semDedupOversizeCells]] caps on).
    *
    * Scale shape: the assignment is [[ivfAssign]]'s broadcast-centroid
    * scan (no shuffle); the only exchange is the |cells|-row count
    * aggregate, which is cut once so the corpus scan doesn't run twice
    * for the total. The ×1e6 step widens through DECIMAL(38,0): a cell's
    * count is corpus-scale, exactly the range the ANSI overflow audit
    * flagged for plain `x * 1000000L`. */
  def ivfCellBalance(embeddings: DataFrame, embCol: String, idCol: String,
      centroids: DataFrame, centIdCol: String, centVecCol: String): DataFrame = {
    val counts = Lineage.cut(ivfAssign(embeddings, embCol, idCol,
        centroids, centIdCol, centVecCol)
      .groupBy("cell").agg(F.count(F.lit(1)).as("n_vecs")))
    val total = counts.agg(F.sum("n_vecs").as("__t"))
    counts.crossJoin(F.broadcast(total))
      .select(F.col("cell"), F.col("n_vecs"),
        F.expr("CAST(CAST(n_vecs AS DECIMAL(38,0)) * 1000000 DIV __t AS BIGINT)")
          .as("share_ppm"))
  }
}
