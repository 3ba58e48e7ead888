package graft.functions

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.util.Lineage

/** Graph analytics over id-pair edge lists — the authority/centrality tier
  * a curation pipeline runs on top of its duplicate-candidate graph (which
  * documents sit at the center of big near-dup families, which are
  * peripheral one-off matches).
  *
  * All arithmetic is integer parts-per-million so results are
  * deterministic and oracle-checkable cell-exact: rank mass starts at
  * 1e6 ppm spread over the nodes and every division floors, identically
  * in Spark (`DIV`) and DuckDB (`//`) on the non-negative values used
  * here.
  */
object Graph {

  /** Damped PageRank over an UNDIRECTED pair list (each input pair `(a,b)`
    * becomes edges both ways), fixed iteration count, integer-ppm
    * arithmetic.
    *
    * Per iteration: `rank'(v) = (1e6-damp) DIV n  +  damp * Σ_{u~v}
    * (rank(u) DIV deg(u)) DIV 1e6`. Floored shares lose a little mass per
    * round (deterministically — both engines floor the same way), which is
    * the price of cell-exact reproducibility; relative ordering is what the
    * operator is for. Nodes are exactly the endpoints of the pair list, so
    * every node has `deg >= 1` and the directed-graph dangling-mass case
    * cannot arise.
    *
    * Scale shape (100 TB): the edge list and degree table are built once
    * and lineage-cut; each iteration is ONE shuffle — the (dst, share)
    * contributions hash-aggregate by node. Ranks/degrees are ids+longs
    * only (text never enters). On a cluster, pre-partition `edges` by
    * `src` and ranks by `node` so the share join is co-located, leaving
    * the contribution aggregation as the only per-round exchange. Lineage
    * is cut every round, so plan depth is O(1) per iteration, not
    * O(2^iters). Set a checkpoint dir to make the cuts the HDFS-backed
    * reliable variant (same discipline as [[Dedup.duplicateClusters]]).
    *
    * Returns one row per node: (node, deg, rank_ppm).
    */
  def pageRankPpm(pairs: DataFrame, aCol: String, bCol: String,
      iters: Int = 3, dampPpm: Long = 850000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampPpm >= 0L && dampPpm <= 1000000L,
      s"dampPpm must be in [0, 1e6], got $dampPpm")
    val fwd = pairs.select(F.col(aCol).as("src"), F.col(bCol).as("dst"))
    // ONE exchange keyed on src at build (r16, guide §2.4): the per-round
    // share join is keyed on src, and the old (src,dst)-partitioned cut
    // re-shuffled the FULL edge table every iteration to satisfy it.
    // Repartitioning BEFORE the distinct keeps the build at one exchange
    // (HashPartitioning(src) satisfies the (src,dst) clustering, so the
    // dedup runs partition-local); the checkpoint freezes the layout
    // (LogicalRDD keeps outputPartitioning), so iterations only ever move
    // rank shares, never edges.
    val edges = Lineage.cut(fwd
      .union(fwd.select(F.col("dst").as("src"), F.col("src").as("dst")))
      .repartition(F.col("src"))
      .distinct())
    // state carries (node, deg, rank_ppm) in ONE table (r16): the old shape
    // held ranks and deg separately and paid a ranks⋈deg join per round
    // plus a final re-attach join — pure exchange overhead, same values.
    // deg reuses edges' src-partitioning (no exchange for this groupBy).
    val deg = edges.groupBy(F.col("src").as("node"))
      .agg(F.count(F.lit(1)).as("deg"))
    var state = Lineage.cut(deg.select(F.col("node"), F.col("deg"),
      F.lit(0L).as("rank_ppm")))
    val n = state.count() // one scalar to the driver; the node count
    require(n > 0L, "pageRankPpm: empty edge list")
    val telePpm = (1000000L - dampPpm) / n
    val initPpm = 1000000L / n
    for (it <- 1 to iters) {
      // share = rank(u) DIV deg(u); contributions aggregate by destination.
      // The first round reads the initial 1e6/n rank as a literal (state's
      // stored rank_ppm is a placeholder until the first update).
      val rankExpr = if (it == 1) s"${initPpm}L" else "rank_ppm"
      val share = state
        .select(F.col("node").as("src"), F.expr(s"$rankExpr DIV deg").as("__s"))
      val sums = edges.join(share, "src")
        .groupBy(F.col("dst").as("node"))
        .agg(F.sum("__s").as("__c"))
      // damp * c <= 8.5e5 * 1e6 — far inside BIGINT, no widening needed
      val prev = state
      state = Lineage.cut(state
        .join(sums, Seq("node"), "left")
        .select(F.col("node"), F.col("deg"), F.expr(
          s"CAST($telePpm AS BIGINT) + $dampPpm * coalesce(__c, CAST(0 AS BIGINT)) DIV 1000000")
          .as("rank_ppm")))
      Lineage.release(prev) // the new round is materialized (eager cut)
    }
    state.select("node", "deg", "rank_ppm")
  }
}
