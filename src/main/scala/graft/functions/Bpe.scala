package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import graft.plans.BpeExpressions
import graft.util.Lineage

/** Byte-pair-encoding tokenizer training and segmentation — the tokenizer-
  * fitting stage of a training-data pipeline, Spark-first.
  *
  * Algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
  * Words with Subword Units"): start from character symbols per word (plus
  * an end-of-word marker), repeatedly count adjacent symbol pairs weighted
  * by word frequency and merge the most frequent pair, recording the merge
  * order; segmentation replays the merges on new text.
  *
  * Scale shape: the CORPUS is scanned exactly once — everything iterative
  * runs on the word-frequency VOCABULARY (distinct words), which is
  * corpus-size-independent for natural text. Per merge: one shuffle (pair
  * counts, partial-aggregated map-side), a 1-row argmax collect (the
  * trainer's convergence probe — same driver contact as
  * `duplicateClusters`), and a vocab-local native-expression rewrite with
  * a per-iteration lineage cut (a reliable checkpoint at cluster scale
  * once a checkpoint dir is set). Industrial vocabularies
  * (30k+ merges) batch several non-conflicting merges per round to
  * amortize the shuffle — `train(maxMergesPerRound = n)` does exactly
  * that, with a per-round validation probe that guarantees the merge
  * table equals strictly-sequential greedy order (falls back to a single
  * merge when the guarantee can't be proven); the spec pins both modes
  * against a brute-force reference.
  */
object Bpe {

  val EndOfWord = "</w>"

  /** Word-frequency vocabulary as (cnt, syms) — characters + `</w>`. */
  def vocabulary(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(F.explode(F.split(F.col(textCol), "\\s+")).as("word"))
      .where(F.col("word") =!= "")
      .groupBy("word").agg(F.count(F.lit(1)).as("cnt"))
      .select(F.col("cnt"),
        F.concat(F.filter(F.split(F.col("word"), ""), s => s =!= ""),
          F.array(F.lit(EndOfWord))).as("syms"))

  /** Adjacent-pair counts over a (cnt, syms) vocabulary — the per-iteration
    * counting core (and the oracled face q106). Deterministic total order:
    * freq desc, then (lhs, rhs) ascending.
    *
    * Pairs ride the NATIVE shingle pass as "lhs rhs" strings (symbols are
    * whitespace-split word pieces plus `</w>`, so they can never contain
    * the space separator): an interpreted zip_with lambda here would run
    * per symbol per vocab word PER MERGE ITERATION — at a 100M-word
    * vocabulary that is ~1e9 interpreted evals per merge. */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .select(F.col("cnt"),
        F.explode(graft.plans.Expressions.shingleArray(F.col("syms"), 2)).as("__pg"))
      .groupBy("__pg").agg(F.sum("cnt").as("freq"))
      .select(F.substring_index(F.col("__pg"), " ", 1).as("lhs"),
        F.substring_index(F.col("__pg"), " ", -1).as("rhs"),
        F.col("freq"))

  /** Train `numMerges` BPE merges on `docs(textCol)`. Returns the merge
    * table (rank, lhs, rhs, freq) in learned order; stops early when no
    * pair reaches `minPairCount`.
    *
    * `maxMergesPerRound > 1` enables BATCHED training — the industrial
    * speedup for 30k-merge vocabularies: each round applies up to that many
    * top pairs in one vocabulary pass, amortizing the per-merge shuffle.
    * The merge TABLE is guaranteed identical to sequential order (BpeSpec
    * pins it): a round's batch is the maximal descending-frequency PREFIX
    * of candidates with no CROSS-side symbol sharing (rhs of one = lhs of
    * another — the only sharing that lets occurrences overlap; same-side
    * sharing is harmless) and no concat collisions, accepted only if a
    * validation probe over the full pair table shows
    *  (a) every non-batch pair CHAIN-ADJACENT to a batch pair (lhs in the
    *      batch's rhs set, or rhs in its lhs set) has freq strictly below
    *      the last batch member's — every NEW pair identity a merge can
    *      create is frequency-bounded by such a pair, so none can outrank
    *      a later batch member (old pairs need no freq check: the prefix
    *      ordering already sorts them after the batch, and they can only
    *      lose occurrences); and
    *  (b) no existing pair involves a concatenated symbol (a pre-existing
    *      `lhs+rhs` symbol elsewhere in the vocabulary could GAIN
    *      occurrences from the merge and overtake).
    * On any violation the round falls back to the plain sequential single
    * merge, so batching is a pure throughput knob, never a semantics one. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            minPairCount: Long = 2,
            maxMergesPerRound: Int = 1,
            roundCounter: java.util.concurrent.atomic.AtomicInteger = null): DataFrame = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    require(maxMergesPerRound >= 1,
      s"maxMergesPerRound must be >= 1, got $maxMergesPerRound")
    val spark = docs.sparkSession
    var vocab = Lineage.cut(vocabulary(docs, textCol))
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      if (roundCounter != null) roundCounter.incrementAndGet()
      val want = math.min(maxMergesPerRound, numMerges - rank)
      // collect enough candidates to fill a batch after conflict stops.
      // No frequency cutoff vs uncollected pairs is needed: they sort
      // after every collected row, hence after the whole batch prefix, and
      // old pairs only lose occurrences to batch merges; the new-pair
      // bound is probed over the FULL table below.
      val k = if (want <= 1) 1 else math.min(want * 4 + 8, 256)
      // batched rounds read the pair table twice (top-K collect + the
      // validation probe); recomputing it is measurably cheaper than
      // caching (the probe's isin filters push into the recomputed scan,
      // while a persist materializes ALL pairs: 14.8 s vs 12.4 s for the
      // 107-merge drill) — so no persist here, deliberately
      val pc = pairCounts(vocab)
      val top = pc.orderBy(F.col("freq").desc, F.col("lhs"), F.col("rhs"))
        .limit(k).collect()
      if (top.isEmpty || top(0).getLong(2) < minPairCount) exhausted = true
      else {
        // greedy conflict-free prefix (stop at the first conflict — skipping
        // would break the prefix ordering the equivalence proof needs).
        // Conflict = CROSS-side symbol sharing only: merging (a,b) can
        // destroy or create an occurrence of (c,d) only through chain
        // overlap ("c d=a b" needs d==a; "a b=c d" needs b==c) or through
        // the new `ab` symbol. Same-side sharing (a==c or b==d) cannot put
        // two occurrences on overlapping positions — on natural text the
        // top pairs overwhelmingly share the end-of-word rhs, so requiring
        // full disjointness would almost never batch.
        val batch = Vector.newBuilder[(String, String, Long)]
        val acc = scala.collection.mutable.HashSet.empty[String]     // all batch symbols + concats (probe filter)
        val lhsAcc = scala.collection.mutable.HashSet.empty[String]
        val rhsAcc = scala.collection.mutable.HashSet.empty[String]
        val catAcc = scala.collection.mutable.HashSet.empty[String]
        var size = 0
        var i = 0
        var stop = false
        while (i < top.length && size < want && !stop) {
          val (l, r, f) = (top(i).getString(0), top(i).getString(1), top(i).getLong(2))
          val ok = f >= minPairCount &&
            (size == 0 || (
              !rhsAcc(l) && !lhsAcc(r) &&            // no chain with accepted
              !catAcc(l) && !catAcc(r) &&            // no symbol = earlier concat
              !acc(l + r)))                          // concat = no batch string
          if (ok) {
            batch += ((l, r, f)); size += 1
            lhsAcc += l; rhsAcc += r; catAcc += (l + r)
            acc += l; acc += r; acc += (l + r)
          }
          else stop = true
          i += 1
        }
        var chosen = batch.result()
        if (chosen.length > 1) {
          val batchKeys = chosen.map { case (l, r, _) => s"$l $r" }
          val fm = chosen.last._3
          // Old non-batch pairs can only LOSE occurrences to batch merges,
          // and the prefix property puts them after the last member in
          // (freq desc, lhs, rhs) order — ties included, they lose every
          // later argmax. Strictness is only needed for NEW pairs, whose
          // frequency is bounded by the pairs CHAIN-ADJACENT to a batch
          // pair ((x,ab) by (x,a); (ab,y) by (b,y); cascades embed a chain
          // adjacency too) — so only those must sit strictly below fm.
          val chainAdj = F.col("lhs").isin(rhsAcc.toSeq: _*) ||
            F.col("rhs").isin(lhsAcc.toSeq: _*)
          // a pre-existing symbol string-equal to a concat could GAIN
          // occurrences (new identity merges into old) — none may exist
          val inC = F.col("lhs").isin(catAcc.toSeq: _*) ||
            F.col("rhs").isin(catAcc.toSeq: _*)
          val notBatch = !F.concat_ws(" ", F.col("lhs"), F.col("rhs"))
            .isin(batchKeys: _*)
          val pr = pc.where((chainAdj || inC) && notBatch)
            .agg(F.coalesce(F.max(F.when(chainAdj, F.col("freq"))), F.lit(-1L)).as("mx"),
              F.coalesce(F.sum(F.when(inC, 1L).otherwise(0L)), F.lit(0L)).as("nc"))
            .head()
          if (pr.getLong(1) != 0L) {
            // concat-symbol collision: can't attribute it to one member
            // cheaply — sequential round
            chosen = chosen.take(1)
          } else if (pr.getLong(0) >= fm) {
            // a chain-adjacent pair ties/beats the last member: shrink to
            // the longest prefix strictly above it. maxTouch was computed
            // for the FULL batch's chain set; a shorter prefix's chain set
            // is a subset, so the bound stays valid (conservative).
            chosen = chosen.take(math.max(1,
              chosen.segmentLength(_._3 > pr.getLong(0))))
          }
          if (sys.env.contains("GRAFT_BPE_DEBUG")) System.err.println(
            s"[bpe] round: batch=${chosen.length} " +
              s"(tried=$fm maxChain=${pr.getLong(0)} concatPairs=${pr.getLong(1)}) " +
              chosen.map(c => c._1 + "+" + c._2).mkString(","))
        }
        chosen.foreach { case (l, r, f) => merges += ((rank, l, r, f)); rank += 1 }
        val prev = vocab
        // nested mergePair expressions apply the batch IN ORDER within one
        // vocabulary pass — per-word application, so identical to one full
        // pass per merge
        vocab = Lineage.cut(vocab.withColumn("syms",
          chosen.foldLeft(F.col("syms")) { case (c, (l, r, _)) =>
            BpeExpressions.mergePair(c, l, r)
          }))
        // the new cut is materialized (eager), so the previous iteration's
        // cut is dead — release it, or a long training run leaves
        // O(numMerges) vocabulary checkpoints in the checkpoint dir
        Lineage.release(prev)
      }
    }
    // the merge table below is a driver-side collection: the last round's
    // vocabulary is dead too
    Lineage.release(vocab)
    import spark.implicits._
    merges.result().toDF("rank", "lhs", "rhs", "freq")
      .select(F.col("rank").cast("long").as("rank"),
        F.col("lhs"), F.col("rhs"), F.col("freq"))
  }

  /** Segment text under a learned merge table (rank order). */
  def encode(text: Column, merges: Seq[(String, String)]): Column =
    BpeExpressions.encode(text, merges, EndOfWord)

  /** Collect a merge DataFrame (rank, lhs, rhs, ...) into the ordered list
    * `encode` takes. Driver-sized by construction: the merge table has
    * `numMerges` rows. */
  def mergeList(merges: DataFrame): Seq[(String, String)] =
    merges.select("rank", "lhs", "rhs").collect()
      .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq

  /** Merge list ↔ one string, for the SQL face (`bpe_encode(text, spec)`):
    * one "lhs rhs" pair per line, rank order. Unambiguous because symbols
    * are whitespace-split word pieces — they can contain neither the
    * space separator nor a newline. */
  def mergesToSpec(merges: Seq[(String, String)]): String =
    merges.map { case (a, b) => s"$a $b" }.mkString("\n")

  def parseMergeSpec(spec: String): Seq[(String, String)] =
    // CRLF-tolerant: a Windows-edited spec would otherwise leave "\r" on
    // every rhs — rank lookups silently never match and encoding degrades
    // to character tokens with no diagnostic
    spec.split("\r?\n").toSeq.filter(_.nonEmpty).map { line =>
      val i = line.indexOf(' ')
      require(i > 0 && i < line.length - 1, s"bad merge line: '$line'")
      (line.substring(0, i), line.substring(i + 1))
    }
}
