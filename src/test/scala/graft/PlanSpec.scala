package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that make these operators hold
  * up at 100 TB — filters reaching the parquet scan, column pruning, small
  * sides broadcast, top-K as partial/final TakeOrderedAndProject, partial
  * (map-side) aggregation. A regression here is a scale bug even when the
  * sf0.01 results stay correct. */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q223 fact-fact join plans as SortMergeJoin — neither side broadcast, pruned scans, partial agg (VERDICT r12 #2)") {
    val p = plan("q223_factfact_join")
    assert(p.contains("SortMergeJoin"), s"expected a shuffle merge join:\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      s"a fact side got broadcast:\n$p")
    // both fact scans pruned to the join/agg columns only
    assert(!p.contains("l_shipdate") && !p.contains("o_totalprice"),
      s"scan not pruned:\n$p")
    assert(p.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("q11 pushes the shipdate filter into the parquet scan and partial-aggregates") {
    val p = plan("q11_tpch_q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
    assert(p.contains("HashAggregate(keys=[l_returnflag") && p.contains("partial_"),
      s"no partial aggregation:\n$p")
  }

  test("q01 projection prunes the scan to the selected columns") {
    val p = plan("q01_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_returnflag:string>"), s"scan not pruned:\n$p")
  }

  test("q28 plans the dimension side as a broadcast hash join") {
    val p = plan("q28_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,40)"),
      s"dimension filter not pushed:\n$p")
  }

  test("q24 top-K plans as TakeOrderedAndProject (partial/final FirstN)") {
    val p = plan("q24_firstn")
    assert(p.contains("TakeOrderedAndProject"), s"no two-phase top-K:\n$p")
  }

  test("q07 stateQuery lookup broadcasts the state side") {
    val p = plan("q07_statequery_filternull")
    assert(p.contains("BroadcastHashJoin"), s"state lookup not broadcast:\n$p")
  }

  test("q16 word count keeps split+explode inside codegen and aggregates partially") {
    val p = plan("q16_wordcount")
    assert(p.contains("Generate explode"), s"no generate:\n$p")
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
  }

  test("q40 brute-force top-k is a single scan + TakeOrderedAndProject, no shuffle join") {
    val p = plan("q40_cosine_topk")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  private def exchanges(p: String): Int =
    p.linesIterator.count(_.dropWhile(c => !c.isLetter).startsWith("Exchange"))

  private def readSchemas(p: String): Seq[String] =
    "ReadSchema: (struct<[^>]*>)".r.findAllMatchIn(p).map(_.group(1)).toSeq

  // the Combiner SPI lowers to a Catalyst aggregate function: the scan reads
  // the keys and `in` fields only, partial buffers combine map-side, and no
  // whole-row deserialization sits over the scan
  Seq(
    "q09_global_count" -> "struct<l_orderkey:bigint>",
    "q10_sum" -> "struct<l_quantity:double>",
    "q13_combiner_spi" -> "struct<o_totalprice:double,o_orderpriority:string>"
  ).foreach { case (q, schema) =>
    test(s"$q Combiner SPI: pruned scan, partial aggregate, no DeserializeToObject") {
      val p = plan(q)
      assert(readSchemas(p) == Seq(schema), s"scan not pruned to keys and in:\n$p")
      assert(p.contains("ObjectHashAggregate") && p.contains("partial_"),
        s"no partial aggregation:\n$p")
      assert(!p.contains("DeserializeToObject"), s"whole rows deserialized:\n$p")
    }
  }

  // Reducer and Full aggregators keep their groupByKey fold, over pruned input
  Seq(
    "q14_reducer_spi" -> "struct<o_orderkey:bigint,o_orderstatus:string>",
    "q15_full_agg_spi" -> "struct<c_custkey:bigint,c_mktsegment:string>"
  ).foreach { case (q, schema) =>
    test(s"$q SPI fold reads only the keys and in fields") {
      val p = plan(q)
      assert(readSchemas(p) == Seq(schema), s"scan not pruned to keys and in:\n$p")
    }
  }

  test("q57 as-of join is single-shuffle: one hash exchange plus the output sort only") {
    val p = plan("q57_asof_join")
    assert(exchanges(p) == 2, s"expected key exchange + output sort only:\n$p")
    assert(!p.contains("Join"), s"as-of must not plan a join:\n$p")
  }

  test("q63 hash sampling is a scan-stage filter — no exchange before the predicate") {
    val p = plan("q63_hash_sample")
    assert(p.contains("Filter"), s"no filter:\n$p")
    assert(exchanges(p) == 1, s"only the output sort may exchange:\n$p")
  }

  test("q65 band join broadcasts the bands — zero shuffles before aggregation") {
    val p = plan("q65_band_join")
    assert(p.contains("BroadcastNestedLoopJoin"), s"bands not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q50 grouped top-K plans the native heap operator with survivors-only shuffle") {
    val p = plan("q50_topk_per_group")
    assert(p.contains("TopKPartial") && p.contains("TopKFinal"), s"native TopK not planned:\n$p")
    assert(!p.contains("Window"), s"window fallback leaked in:\n$p")
  }

  test("q111 winnow overlap: fingerprints cut to an (id, fp) frame, ids-only shuffle") {
    val p = plan("q111_winnow_overlap")
    // the winnow scan is materialized ONCE (localCheckpoint) into a tiny
    // (id, fp) frame before feeding both the bucket-size filter and the
    // join probe side — so the join stages read checkpointed RDD leaves,
    // the text column can never reach an exchange, and the heavy md5 scan
    // is not recomputed per consumer. The fp-keyed exchange must still be
    // present (the bucket aggregation), and nothing may degenerate to a
    // cartesian / sort-merge shape.
    assert(p.contains("Scan ExistingRDD"),
      s"fps frame not cut to a checkpointed (id, fp) RDD:\n$p")
    assert(!p.contains("winnow_md5"),
      s"winnow scan recomputed above the cut (should run once, inside it):\n$p")
    assert(p.contains("Exchange hashpartitioning(fp"),
      s"no fp-keyed bucket exchange:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q115 bloom semi-join: probe-scan bloom filter, pruned scan, broadcast finishing join") {
    val p = plan("q115_bloom_semi_join")
    // the sketch probe must be a Filter in the probe's scan stage — the
    // pruning that keeps non-matching rows out of the join exchange
    assert(p.contains("might_contain"), s"no bloom probe:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      s"probe scan not pruned to the 3 output columns:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"finishing join not a broadcast semi at this sf:\n$p")
  }

  test("q116 drift: category frame cut once; only scalar-broadcast joins above it") {
    val p = plan("q116_split_drift")
    assert(p.contains("Scan ExistingRDD"),
      s"category counts not checkpoint-cut (corpus scans would run twice):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"full-outer count join must live below the cut:\n$p")
  }

  test("q118 containment: candidate cut reused, ppm predicate inside the finishing join, no blowup joins") {
    val p = plan("q118_containment")
    assert(p.contains("Scan ExistingRDD"),
      s"winnow fps not checkpoint-cut (md5 scan would run twice):\n$p")
    // the containment threshold must ride the join, not a post-join filter
    // over the materialized pair set
    assert(p.contains("array_intersect") && p.contains("div least"),
      s"containment ppm not inlined as the join condition:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q119 weighted sample: scan-stage predicate over a pruned read, no joins, no extra exchange") {
    val p = plan("q119_weighted_sample")
    assert(p.contains("md5_bucket"), s"no deterministic hash predicate:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"),
      s"scan not pruned to the 3 output columns:\n$p")
    assert(!p.contains("Join"), s"weighted keep must not join:\n$p")
    // one exchange only: the oracle-parity output sort
    assert("Exchange".r.findAllIn(p).size <= 2, s"unexpected exchanges:\n$p")
  }

  test("q120 inverted index: bounded posting aggregate combines map-side, one term shuffle") {
    val p = plan("q120_inverted_index")
    // the posting heap must run as a partial aggregate BEFORE the exchange
    // — a final-only aggregate would shuffle every (term, doc) pair
    assert(p.contains("partial_first_n"),
      s"posting aggregate not map-side combined:\n$p")
    assert("hashpartitioning\\(term".r.findAllIn(p).size == 1,
      s"expected exactly one term-keyed exchange:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q121 CMS: map-side-combined cell aggregate, no joins in the sketch subtree") {
    val p = plan("q121_cms_counts")
    // the sketch must partial-aggregate before its exchange — a final-only
    // aggregate would shuffle every (d, col) pair per input row
    assert(p.contains("partial_count"), s"cell counts not map-side combined:\n$p")
    assert(p.contains("md5_bucket"), s"not the engine-portable hash:\n$p")
  }

  test("q123 token-budget mix: rates broadcast back, keep test stays a scan predicate") {
    val p = plan("q123_token_budget_mix")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"rates not broadcast:\n$p")
    assert(p.contains("md5_bucket"), s"no deterministic keep predicate:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q124 semdedup: assignment cut once and reused; cell pairs are keyed joins, no all-pairs") {
    val p = plan("q124_semdedup")
    // the assignment frame is checkpoint-cut and read back for the pair
    // sides + kept output — the broadcast-assign pass must not run 3x
    assert(p.contains("Scan ExistingRDD"),
      s"assignment frame not cut (assign subtree would run three times):\n$p")
    // nothing above the cut may be nested-loop: the within-cell pair join
    // degenerating to BNLJ would be an all-pairs blowup at corpus scale
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"within-cell pair join must be keyed on cell, not nested-loop:\n$p")
    // the greedy drop set is applied as an anti-join, not a collected filter
    assert(p.contains("LeftAnti"), s"kept set must be an anti-join:\n$p")
  }

  test("q125 dup-span mask: gram frame cut once; counts map-side combined; no all-pairs anywhere") {
    val p = plan("q125_dup_span_mask")
    assert(p.contains("Scan ExistingRDD"),
      s"grams frame not cut (tokenize+shingle+md5 scan would run twice):\n$p")
    assert(p.contains("partial_count"), s"gram counts not map-side combined:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span mask must stay keyed (fp/doc_id) end-to-end:\n$p")
  }

  test("q126 cross-corpus dedup: fingerprint-keyed probe + anti-join, text pruned out of the probe") {
    val p = plan("q126_cross_corpus_dedup")
    assert(p.contains("LeftAnti"), s"kept rows must come from an anti-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the fingerprint distincts must partial-aggregate before their
    // exchanges (a function-less distinct prints as a two-level
    // HashAggregate pair on the fp key, not as partial_*)
    assert("HashAggregate\\(keys=\\[fp".r.findAllIn(p).size >= 2,
      s"base fingerprints not map-side deduped:\n$p")
  }

  test("q127 boilerplate grams: doc-frequency map-side combined, source totals broadcast") {
    val p = plan("q127_boilerplate_grams")
    assert(p.contains("partial_count"), s"df counts not map-side combined:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"source totals not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q128 shard plan: one window keyed by source, scan pruned to the 3 input columns") {
    val p = plan("q128_shard_plan")
    assert(p.contains("Window"), s"no window operator:\n$p")
    // exactly one window pass (offset + shard both derive from one sum)
    assert("RunningWindowFunction|Window \\[".r.findAllIn(p).size <= 2, p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
      s"scan not pruned:\n$p")
    assert(!p.contains("Join"), s"shard planning must not join:\n$p")
  }

  test("q129 trigram LM: all probe joins keyed (vocabulary), count tables map-side combined") {
    val p = plan("q129_trigram_lm")
    assert(p.contains("partial_count"), s"count tables not map-side combined:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join is the single 1-row (V, N) broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"probe joins must be keyed, not nested-loop:\n$p")
  }

  test("q130 best-of-cluster: argmax map-side combined; drop set met by anti joins, no text shuffle") {
    val p = plan("q130_best_of_cluster")
    assert(p.contains("partial_max"), s"cluster argmax not map-side combined:\n$p")
    // r16: survivors = corpus ANTI-JOIN the ids-only drop list (clustered
    // non-winners) — one wide corpus pass instead of the old two cluster
    // joins + a semi-join third pass; the argmax reads a NARROW
    // (id, quality) projection, so text still never shuffles
    assert(p.contains("LeftAnti"), s"drop set must be an anti-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q132 chunking: pure scan-stage explode — no joins, only the output-sort exchange") {
    val p = plan("q132_chunk_documents")
    assert(!p.contains("Join"), s"chunking must not join:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1, s"chunking must not shuffle:\n$p")
  }

  test("q133 oov rate: vocabulary as TakeOrdered broadcast, per-doc pass aggregates partially") {
    val p = plan("q133_oov_rate")
    assert(p.contains("TakeOrderedAndProject"), s"vocab not a top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
    assert(p.contains("partial_count"), s"per-doc aggregate not map-side combined:\n$p")
  }

  test("q134 corpus diff: anti/semi id joins only — no full-outer SortMergeJoin, one count shuffle") {
    val p = plan("q134_corpus_diff")
    assert(p.contains("LeftAnti") && p.contains("LeftSemi"), s"diff must be anti/semi joins:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"count frames must union, not full-outer join:\n$p")
    assert(p.contains("partial_sum"), s"category counts not map-side combined:\n$p")
  }

  test("q138 classifier eval: label side pruned to (doc_id, lang) and broadcast; no window") {
    val p = plan("q138_classifier_eval")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"label scan not pruned:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"label join must broadcast:\n$p")
    // the AUC sweep is an array fold over the histogram, never a window
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"AUC must not plan a window:\n$p")
  }

  test("q141 LSH recall audit: sample cut once (ExistingRDD), truth is keyed joins, no cartesian") {
    val p = plan("q141_lsh_recall")
    assert(p.contains("Scan ExistingRDD"), s"sample not lineage-cut:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"gram-blocked truth must not plan a cartesian:\n$p")
    assert(p.contains("partial_count"), s"shared-gram counts not map-side combined:\n$p")
  }

  test("q143 ANN recall audit: per-query top-k via the native heap operator, stitch broadcast") {
    val p = plan("q143_ann_recall")
    assert(p.contains("TopKPartial") && p.contains("TopKFinal"),
      s"per-query top-k must use the native operator:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the |queries|-row report stitch must broadcast:\n$p")
  }

  test("q145 length batches: no joins at all — one scan into per-bucket windows") {
    val p = plan("q145_length_batches")
    assert(!p.contains("Join"), s"batch packing must not join:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan not pruned to (doc_id, text):\n$p")
  }

  test("q149 pagerank: iterations behind lineage cuts; rank stitch keyed, no cartesian") {
    // the final plan must stitch PRE-COMPUTED iteration results (ExistingRDD
    // from the per-round cut), not replay 3 rounds of joins in one tree.
    // Execute first: the cut frames carry no stats, so the INITIAL plan
    // hedges to SortMergeJoin and AQE converts to broadcast at runtime.
    val df = SparkEntry.queries("q149_pagerank")(spark, dir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    // the adaptive dump appends the pre-AQE "== Initial Plan ==" (which
    // legitimately hedges to SMJ) — assert on the final section only
    val p = full.split("== Initial Plan ==").head
    assert(p.contains("Scan ExistingRDD"),
      s"iteration results must come from the lineage cut:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"rank/degree stitch must be a keyed broadcast join (post-AQE):\n$p")
  }

  test("q150 source similarity: tf cut once; pair join term-keyed; norms broadcast") {
    val p = plan("q150_source_similarity")
    // the (group, term) tf table is lineage-cut (it feeds both pair-join
    // sides and the norms) — the corpus scan ran once, inside the cut
    assert(p.contains("Scan ExistingRDD"),
      s"tf table must be lineage-cut (corpus scanned once):\n$p")
    assert(!p.contains("CartesianProduct"), s"pair join must be term-keyed:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"group-level norms/totals must broadcast:\n$p")
  }

  test("q172 repetition profile: pure scan-stage pass — one scan, no explode, only the output sort exchanges") {
    val p = plan("q172_repetition_profile")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"exactly one corpus scan (got $scans):\n$p")
    assert(!p.contains("Join") && !p.contains("Generate"),
      s"per-doc stats must not join or explode:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"only the orderBy may exchange (got $exchanges):\n$p")
  }

  test("capped sourceSimilarity: term cap adds no cartesian and keeps the term-keyed pair join") {
    // the maxSourcesPerTerm guard (VERDICT r7 #7): the ok-terms filter is
    // an equi-join on the term key and the double-consumed tf table is
    // lineage-cut — the capped plan keeps q150's scale shape
    val p = graft.functions.Text.sourceSimilarity(
      spark.read.parquet(s"$dir/documents.parquet"), "source", "text",
      maxSourcesPerTerm = 64).queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"),
      s"capped tf table must be lineage-cut:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cap filter and pair join must stay key-equi:\n$p")
  }

  test("q152 simhash pairs: hamming verify rides in the join condition; one bucket exchange family") {
    val p = plan("q152_simhash_pairs")
    assert(p.contains("bit_count"),
      s"exact hamming verify must be in the join/filter, not a later stage:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banding must make every join an equi-join:\n$p")
  }

  test("q154 vocab coverage: bounded TakeOrdered top-k, no vocab-wide sort or window") {
    val p = plan("q154_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be the bounded TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("Window"), s"no window allowed (array fold):\n$p")
  }

  test("q159 cell balance: broadcast centroids; counts cut so the corpus scans once") {
    val p = plan("q159_ivf_cell_balance")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"corpus must not re-scan for the total (got $scans):\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the |cells|-row count frame must be lineage-cut:\n$p")
  }

  test("q160 shard balance: per-group window, partial-aggregated manifest rollup") {
    val p = plan("q160_shard_balance")
    assert(p.contains("Window"), s"running offset must be a window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no join belongs in this plan:\n$p")
    assert(p.contains("partial_"), s"the shard rollup must map-side combine:\n$p")
  }

  test("q161 source divergence: ppm table cut once; pair join term-keyed; masses broadcast") {
    val p = plan("q161_source_divergence")
    assert(p.contains("Scan ExistingRDD"),
      s"ppm table must be lineage-cut (corpus scanned once):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"shared-term join must be term-keyed:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-group totals must broadcast:\n$p")
  }

  test("q162 length quantiles: one scan, one keyed aggregate, no window or join") {
    val p = plan("q162_length_quantiles")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"exactly one corpus scan (got $scans):\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"data card is scan + aggregate only:\n$p")
  }

  test("q163 cluster sizes: label propagation stays cut; histogram adds no corpus scan") {
    val p = plan("q163_cluster_sizes")
    assert(p.contains("Scan ExistingRDD"),
      s"cluster labels must come from the cut iteration output:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
  }

  test("q164 cross-source matrix: id-keyed source attach, no cartesian") {
    val p = plan("q164_cross_source_dup")
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"source attach must be an id-keyed equi-join:\n$p")
  }

  test("q165 incremental novelty: gram-keyed probe join, map-side-combined rollup") {
    val p = plan("q165_incremental_novelty")
    assert(!p.contains("CartesianProduct"), s"probe must be gram-keyed:\n$p")
    assert(p.contains("partial_count"), s"per-doc rollup must map-side combine:\n$p")
  }

  test("q166 gate funnel: gate arithmetic touches only the cut tiny frame") {
    val p = plan("q166_gate_funnel")
    // the single corpus scan runs eagerly INSIDE the localCheckpoint of
    // the first-fail count; the output plan reads only the cut RDD
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0, s"no corpus scan may survive into the output plan (got $scans):\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the first-fail count frame must be lineage-cut:\n$p")
  }

  test("q167 eval span mask: eval fingerprints broadcast; corpus text never shuffles") {
    val p = plan("q167_eval_span_mask")
    assert(p.contains("BroadcastHashJoin"),
      s"the eval fp probe must be a broadcast join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
    // the fp exchange inside the eval-side distinct is eval-sized and
    // sits under its BroadcastExchange; the corpus side must reach the
    // probe join without an fp shuffle (SortMergeJoin would mean both
    // sides shuffled on fp — corpus-sized)
    assert(!p.contains("SortMergeJoin"),
      s"the corpus gram probe must not shuffle on fp:\n$p")
  }

  test("q168 threshold calibration: keyed score join, partial percentile aggregate") {
    val p = plan("q168_threshold_calibration")
    assert(!p.contains("CartesianProduct"), s"score-source attach must be id-keyed:\n$p")
    assert(p.contains("partial_percentile"),
      s"the grouped percentile must combine map-side:\n$p")
  }

  test("q169 sentence dedup: sentence-keyed first-site aggregate, no cartesian") {
    val p = plan("q169_sentence_dedup")
    assert(!p.contains("CartesianProduct"), s"join-back must be sentence-keyed:\n$p")
    assert(p.contains("partial_min"),
      s"the first-site struct min must combine map-side:\n$p")
  }

  test("q170 budget projection: scored frame cut once; thresholds broadcast back") {
    val p = plan("q170_budget_projection")
    assert(p.contains("Scan ExistingRDD"),
      s"the scored frame must be lineage-cut (corpus tokenizes once):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the |groups|-row threshold table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
  }

  test("SPI whole-stream aggregate keeps a real Exchange between partial and final stages") {
    // coalesce(1) here would be a narrow dependency — Spark would collapse
    // the partial stage into the single final task and the per-partition
    // combine would never run in parallel (the round-2 `weak` finding)
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField}
    val src = (1 to 100).toDF("n").repartition(4)
    val sum = new graft.api.Operations.CombinerAggregator[Long] {
      def init(t: Seq[Any]): Long = t.head.asInstanceOf[Int].toLong
      def combine(a: Long, b: Long): Long = a + b
      def zero: Long = 0L
    }
    val agg = new graft.api.Stream(src)
      .aggregate(graft.api.Fields("n"), sum, StructField("total", LongType))
    val p = agg.toDF.queryExecution.executedPlan.toString
    assert(exchanges(p) >= 1, s"no exchange between partial and final SPI stages:\n$p")
    assert(agg.toDF.as[Long].head() == 5050L)
  }

  // ---- one-partition inputs plan no exchange ----

  // orders, events and customer are each within one file split, so every
  // repartitioning point of these queries sees a one-partition input
  private val onePartitionQueries =
    Seq("q08_partition_agg", "q13_combiner_spi", "q14_reducer_spi", "q15_full_agg_spi",
      "q23_multireduce")

  onePartitionQueries.foreach { q =>
    test(s"$q over a one-partition table plans no exchange, not even for its sort") {
      val p = plan(q)
      assert(exchanges(p) == 0, s"exchange over a one-partition input:\n$p")
    }
  }

  test("building the one-partition queries runs no Spark job") {
    SparkEntry.warmTables(spark, dir)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id"))); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("plan-spec-build", "build")
      onePartitionQueries.foreach(q => SparkEntry.queries(q)(spark, dir))
      // the listener bus delivers in order: once this job's start has
      // arrived, so has the start of any job the build ran
      sc.setJobGroup("plan-spec-fence", "fence")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("plan-spec-fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("plan-spec-fence"), "fence job never reached the listener")
      assert(!groups.contains("plan-spec-build"), s"the build ran jobs: $groups")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  // each operator over the same rows twice: a one-file parquet table, which
  // is one partition (no exchange, not even under the sort), and its
  // repartition(4) (today's exchanges kept)
  {
    import org.apache.spark.sql.{DataFrame, functions => F}
    import org.apache.spark.sql.types.{LongType, StructField}
    import graft.api.{Fields, Stream}
    import graft.api.Operations.{CountAsAggregator, SumLongAgg}
    val long = (n: String) => StructField(n, LongType)
    def half(in: DataFrame, parity: Int): Stream = new Stream(in.where(F.col("v") % 2 === parity))
    Seq[(String, Boolean, DataFrame => DataFrame)](
      ("groupBy Column aggregate", true, in => new Stream(in).groupBy(Fields("k"))
        .aggregate(F.sum("v").as("s")).toDF),
      ("groupBy Combiner aggregate", true, in => new Stream(in).groupBy(Fields("k"))
        .aggregate(Fields("v"), new SumLongAgg(0), long("s")).toDF),
      ("groupBy Reducer aggregate", false, in => new Stream(in).groupBy(Fields("k"))
        .aggregate(Fields("v"), SparkEntry.CountReducer, long("n")).toDF),
      ("groupBy Full aggregate", false, in => new Stream(in).groupBy(Fields("k"))
        .aggregate(Fields("v"), CountAsAggregator, Seq(long("n"))).toDF),
      ("groupBy firstN", false, in => new Stream(in).groupBy(Fields("k"))
        .firstN(3, "v", reverse = true).toDF),
      ("whole-stream Combiner aggregate", true, in => new Stream(in)
        .aggregate(Fields("v"), new SumLongAgg(0), long("s")).toDF),
      ("partitionBy + partitionAggregate", false, in => new Stream(in)
        .partitionBy(Fields("k"))
        .partitionAggregate(Fields("k"), SparkEntry.PerKeyCount, Seq(long("k"), long("n"))).toDF),
      ("multiReduce", false, in => half(in, 0).multiReduce(half(in, 1), Fields("k"), Fields("k"),
        SparkEntry.ClickPurchaseReducer, Seq(long("n0"), long("n1"))).toDF)
    ).foreach { case (name, partial, build) =>
      test(s"$name: no exchange over one partition; repartition(4) twin keeps its exchanges") {
        val dir = java.nio.file.Files.createTempDirectory("graft-plan-twins")
        try {
          spark.range(0, 400, 1, 1).select((F.col("id") % 7).as("k"), F.col("id").as("v"))
            .write.mode("overwrite").parquet(dir.toString)
          val rows = spark.read.parquet(dir.toString)
          val one = build(rows)
          val many = build(rows.repartition(4))
          val onePlan = one.orderBy(one.columns.head).queryExecution.executedPlan.toString
          val manyPlan = many.queryExecution.executedPlan.toString
          assert(exchanges(onePlan) == 0, s"exchange over a one-partition input:\n$onePlan")
          assert(manyPlan.contains("Exchange hashpartitioning") ||
            manyPlan.contains("Exchange SinglePartition"),
            s"the many-partition twin lost its exchange:\n$manyPlan")
          if (partial) {
            assert(onePlan.contains("partial_"), s"no partial aggregate:\n$onePlan")
            assert(manyPlan.contains("partial_"), s"no partial aggregate:\n$manyPlan")
          }
          def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
          assert(sorted(one) == sorted(many))
        } finally graft.util.Fs.deleteRecursively(dir)
      }
    }
  }

  test("multiReduce leaves its output unmarked when Spark re-shuffles its one-partition inputs") {
    // RDD-backed inputs carry no size estimate, so EnsureRequirements
    // hash-partitions both single partitions: marking the cogroup's output
    // one partition would then pull its post-shuffle side into one task
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField}
    import graft.api.{Fields, Stream}
    val in = spark.sparkContext.parallelize(0L until 40L, 1).toDF("k")
    val out = new Stream(in).multiReduce(new Stream(in), Fields("k"), Fields("k"),
        SparkEntry.ClickPurchaseReducer,
        Seq(StructField("n0", LongType), StructField("n1", LongType)))
      .toDF
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("Exchange hashpartitioning"), s"expected the re-shuffle:\n$p")
    assert(!p.take(p.indexOf("CoGroup")).contains("Coalesce"),
      s"cogroup output marked one partition over a shuffle:\n$p")
    assert(out.count() == 40L)
  }
}
