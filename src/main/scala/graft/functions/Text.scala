package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}
import graft.util.Lineage

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All Column-tier (pure `org.apache.spark.sql.functions` compositions) so
  * they stay inside whole-stage codegen and scale linearly with no shuffle —
  * each is a per-row map over the corpus; at 100 TB the only cost is the
  * scan. (The reference ships no scalar text library — users write
  * `Function` classes like `trident/testing/Split.java:25-33`; these are the
  * engine-level equivalents a Spark user expects.)
  */
object Text {

  /** Whitespace tokenizer — the engine's `Split.java` analog. Single-space
    * `sep` keeps DuckDB-oracle parity; `tokensWs` is the robust variant. */
  def tokens(text: Column, sep: String = " "): Column =
    F.filter(F.split(text, java.util.regex.Pattern.quote(sep)), w => w =!= "")

  /** Regex whitespace split (multi-space / tab tolerant). */
  def tokensWs(text: Column): Column =
    F.filter(F.split(text, "\\s+"), w => w =!= "")

  def tokenCount(text: Column): Column = F.size(tokens(text))

  /** BPE-ish sub-token estimate: words + punctuation clusters + digit runs
    * counted separately (a cheap, deterministic proxy for tokenizer load). */
  def subTokenCount(text: Column): Column =
    F.size(F.filter(F.split(text, "(?<=\\W)|(?=\\W)"), w => F.trim(w) =!= ""))

  def distinctTokenCount(text: Column): Column =
    F.size(F.array_distinct(tokens(text)))

  /** Per-document repetition PROFILE — the Gopher-family (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1.2) quality gates a curation pipeline runs
    * before training: machine-generated and template spam is REPETITIVE in
    * ways length/stopword stats don't see. Complements the scalar
    * [[repetitionSignals]] (modal-k-gram + stopword fractions, q88) with
    * the count-exact gates that need a gram aggregation rather than a
    * per-row pass. Exact integer definitions (engine-reproducible, all
    * ppm via DIV on non-negatives):
    *
    *  - `top_word_ppm`    — occurrences of the most frequent token ·1e6
    *                        DIV n_tokens (the "fraction in most common
    *                        word" gate); NULL when no tokens.
    *  - `top_bigram_ppm`  — same for 2-grams over n−1 bigram slots; NULL
    *                        when n < 2.
    *  - `dup_trigram_ppm` — occurrences of repeated 3-grams beyond each
    *                        first (= n_grams − n_distinct) ·1e6 DIV
    *                        n_grams (the "fraction in duplicate n-grams"
    *                        gate); NULL when n < 3.
    *  - `max_run_len`     — longest consecutive run of one token ("a a a
    *                        a" spam); 0 for empty docs.
    *
    * Scale shape (100 TB): every statistic here is PER-DOCUMENT, so the
    * whole operator is one scan-stage pass — the native
    * [[graft.plans.Expressions.RepetitionProfile]] expression computes
    * the six counts imperatively per row (doc-bounded hashmaps), and the
    * ppm ratios are Column arithmetic over the struct. ZERO shuffles; no
    * gram ever leaves its row. (A tagged-gram explode + aggregation
    * spelling also works but shuffles every gram for per-doc answers and
    * pays interpreted HOF evaluation — measured unusably slow on the
    * 500k-doc drill, see the expression's scaladoc.) */
  def repetitionProfile(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(F.col(idCol),
        graft.plans.Expressions.repetitionProfile(tokens(F.col(textCol))).as("__p"))
      .select(F.col(idCol),
        F.col("__p.n_tokens").as("n_tokens"),
        F.when(F.col("__p.n_tokens") > 0,
          F.expr("__p.top_word * 1000000L DIV __p.n_tokens")).as("top_word_ppm"),
        F.when(F.col("__p.n_tokens") >= 2,
          F.expr("__p.top_bigram * 1000000L DIV (__p.n_tokens - 1)")).as("top_bigram_ppm"),
        F.when(F.col("__p.n_tokens") >= 3,
          F.expr("(__p.n_trigrams - __p.distinct_trigrams) * 1000000L DIV __p.n_trigrams"))
          .as("dup_trigram_ppm"),
        F.col("__p.max_run").as("max_run_len"))

  /** Type-token ratio scaled to integer per-mille (exact integer math for
    * cross-engine determinism). */
  def typeTokenRatioPerMille(text: Column): Column =
    divToLong(distinctTokenCount(text).cast("long") * 1000L, tokenCount(text).cast("long"))

  /** Exact integer division as a Column (null when the divisor is 0):
    * `(a - pmod(a,b)) / b` divides an exact multiple, so the double
    * division is exact — plain `/` on Columns is double division and
    * returns fractional values (the trap Expectations.scala documents). */
  private def divToLong(a: Column, b: Column): Column =
    ((a - F.pmod(a, b)) / b).cast("long")

  /** Quality-scoring signals: lengths, punctuation/digit/upper counts,
    * mean word length (per-mille). Integer-valued → deterministic. */
  def nChars(text: Column): Column = F.length(text).cast("long")
  def punctCount(text: Column): Column =
    F.length(F.regexp_replace(text, "[^\\p{Punct}]", "")).cast("long")
  def digitCount(text: Column): Column =
    F.length(F.regexp_replace(text, "[^0-9]", "")).cast("long")
  def upperCount(text: Column): Column =
    F.length(F.regexp_replace(text, "[^A-Z]", "")).cast("long")
  def meanTokenLenPerMille(text: Column): Column = {
    val ts = tokens(text)
    divToLong(
      F.aggregate(ts, F.lit(0L), (acc, w) => acc + F.length(w).cast("long")) * 1000L,
      F.size(ts).cast("long"))
  }

  /** Composite quality gate in the C4/Gopher style: keep iff token count in
    * range, punct ratio sane, enough distinct tokens. */
  def qualityKeep(text: Column, minTokens: Int = 5, maxTokens: Int = 100000,
                  maxPunctPerMille: Int = 300): Column = {
    val nt = tokenCount(text).cast("long")
    nt.between(minTokens.toLong, maxTokens.toLong) &&
      (punctCount(text) * 1000L) <= (nChars(text) * maxPunctPerMille.toLong)
  }

  /** Stopword-overlap language ID: score = |tokens ∩ markers(lang)|, pick the
    * argmax (ties → lexicographically first code). N-gram-free heuristic
    * suited to whitespace languages; real pipelines plug a model via the Row
    * tier. Pure Column expr → codegen'd, no shuffle. */
  def langIdGuess(text: Column,
                  markers: Map[String, Seq[String]] = DefaultMarkers): Column = {
    val ts = F.array_distinct(tokens(F.lower(text)))
    val langs = markers.keys.toSeq.sorted
    // argmax via array_max over (score, rank, lang) structs — struct
    // comparison is lexicographic, and rank = reversed position so a tie on
    // score resolves to the FIRST language code in sorted order.
    val scored = langs.zipWithIndex.map { case (lang, i) =>
      F.struct(
        F.size(F.array_intersect(ts, F.array(markers(lang).map(F.lit): _*))).as("score"),
        F.lit(langs.size - i).as("rank"),
        F.lit(lang).as("lang"))
    }
    F.array_max(F.array(scored: _*)).getField("lang")
  }

  val DefaultMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "you", "that", "it"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "ich", "mit", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une", "du", "que"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "los", "una"),
  )

  /** Corpus-frequency rarity signals: for each document, the sum of the
    * corpus-wide counts of its tokens (high = stock phrases) and the number
    * of rare tokens (corpus count < `rareBelow`). The frequency table is a
    * one-pass word count joined back per token — integer-exact, so
    * cross-engine deterministic regardless of shuffle order. */
  def rarityScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, rareBelow: Long = 100L): org.apache.spark.sql.DataFrame = {
    val toks = df.select(F.col(idCol), F.explode(tokens(F.col(textCol))).as("__w"))
    // no broadcast hint: the vocabulary is unbounded at corpus scale
    // (same discipline as tfidfTopTerms) — AQE broadcasts when it
    // measures small
    val freq = toks.groupBy("__w").agg(F.count(F.lit(1)).as("__cnt"))
    toks.join(freq, "__w")
      .groupBy(idCol)
      .agg(F.sum("__cnt").as("freq_score"),
        F.sum(F.when(F.col("__cnt") < rareBelow, 1L).otherwise(0L)).as("n_rare"))
  }

  /** Top-`topN` TF-IDF terms per document → (id, term, tf, df_docs, score),
    * score = tf * (N / df) as IEEE doubles (a multiply and a divide only —
    * no transcendental log, whose libm rounding differs across engines; the
    * ranking is the same monotone order). Ties rank by term ascending, so
    * output is deterministic.
    *
    * Plan shape at scale: one explode+groupBy for per-doc term frequencies.
    * Document frequency comes from its OWN one-scan aggregate (distinct
    * terms per doc → count per term), joined back on term with NO broadcast
    * hint: the term dictionary is heavy-tailed and unbounded at corpus
    * scale (typos/numbers/URLs), so forcing a driver-side broadcast would
    * OOM where a shuffle join works at any vocabulary size — AQE still
    * broadcasts it at runtime whenever it measures small (the common case,
    * and what happens at the oracle sf). The per-doc top-N runs on the
    * native TopK operator — partial heaps cap each task's state at `topN`
    * rows per doc and the shuffle carries survivors only, where
    * `row_number()` would exchange and sort the whole scored table. Corpus
    * size N rides along as a broadcast scalar (always one row). */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topN: Int): org.apache.spark.sql.DataFrame = {
    val n = F.broadcast(df.agg(F.count(F.lit(1)).as("__n")))
    val tf = df
      .select(F.col(idCol), F.explode(tokens(F.col(textCol))).as("term"))
      .groupBy(idCol, "term").agg(F.count(F.lit(1)).as("tf"))
    val dfDocs = df
      .select(F.explode(F.array_distinct(tokens(F.col(textCol)))).as("term"))
      .groupBy("term").agg(F.count(F.lit(1)).as("df_docs"))
    val scored = tf.join(dfDocs, "term")
      .crossJoin(n)
      .withColumn("score",
        F.col("tf") * (F.col("__n").cast("double") / F.col("df_docs").cast("double")))
    graft.plans.TopK.topKPerKey(scored, Seq(idCol), "score",
        desc = true, tieBreak = Seq("term"), k = topN)
      .select(F.col(idCol), F.col("term"), F.col("tf"), F.col("df_docs"), F.col("score"))
  }

  /** BM25 relevance of each document for a fixed bag of query terms →
    * (id, n_hit_terms, score). Classic shape (k1, b), with two determinism
    * substitutions that keep it bit-reproducible across engines and runs:
    *
    *  - rational idf `(N - df + 0.5)/(df + 0.5)` instead of its log — same
    *    per-term monotonicity, no libm variance;
    *  - the per-document sum folds contributions in TERM ORDER (sorted
    *    array + left fold), because float addition is non-associative and a
    *    plain `sum()` would vary with aggregation order.
    *
    * Scale shape: tokens are filtered to the query bag BEFORE the tf
    * aggregate (the explode stream drops to ~|Q| rows per doc
    * immediately); document frequency is a window count over the tf table
    * itself — tf is bag-bounded (≤ |Q| rows per doc), so the window is a
    * small-table sort, and the corpus explode runs ONCE (a per-term
    * aggregate joined back would re-derive tf and re-scan the corpus);
    * N/avgdl ride along as a broadcast scalar. */
  /** Bounded inverted index: per term, the exact document frequency plus
    * the first `maxPostings` doc ids ascending — the retrieval-index build
    * face. One explode of the per-doc DISTINCT token set and ONE shuffle
    * keyed on the term; the posting-list aggregate is buffer-bounded
    * ([[graft.plans.Expressions.BoundedFirstN]], partial-merging), so a
    * stopword term costs `maxPostings` heap entries per task rather than
    * its full df. No silent caps: `truncated` flags every capped term and
    * `df` stays exact. Postings surface as a comma-joined string so the
    * ordering is engine-portable (oracle-exact). */
  def invertedIndex(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, maxPostings: Int = 8): org.apache.spark.sql.DataFrame =
    df.select(F.col(idCol).as("__id"),
        F.explode(F.array_distinct(tokens(F.col(textCol)))).as("term"))
      .groupBy("term")
      .agg(F.count(F.lit(1)).as("df"),
        graft.plans.Expressions.boundedFirstN(
          F.struct(F.col("__id").as("id")), maxPostings).as("__p"))
      .select(F.col("term"), F.col("df"),
        F.array_join(F.expr("transform(__p, s -> cast(s.id as string))"), ",")
          .as("postings"),
        (F.col("df") > maxPostings).as("truncated"))

  def bm25(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val docs = df.select(F.col(idCol), F.col(textCol),
      tokenCount(F.col(textCol)).cast("long").as("__dl"))
    val stats = F.broadcast(docs.agg(
      F.count(F.lit(1)).as("__n"), F.sum("__dl").as("__sdl")))
    val tf = docs
      .select(F.col(idCol), F.col("__dl"), F.explode(tokens(F.col(textCol))).as("term"))
      .where(F.col("term").isin(queryTerms: _*))
      .groupBy(F.col(idCol), F.col("__dl"), F.col("term"))
      .agg(F.count(F.lit(1)).as("tf"))
    val byTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val avgdl = F.col("__sdl").cast("double") / F.col("__n").cast("double")
    val idf = (F.col("__n").cast("double") - F.col("df_t").cast("double") + F.lit(0.5)) /
      (F.col("df_t").cast("double") + F.lit(0.5))
    val denom = F.col("tf").cast("double") +
      F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("__dl").cast("double") / avgdl))
    val contrib = idf * ((F.col("tf").cast("double") * F.lit(k1 + 1.0)) / denom)
    tf.withColumn("df_t", F.count(F.lit(1)).over(byTerm)).crossJoin(stats)
      .withColumn("contrib", contrib)
      .groupBy(idCol)
      .agg(
        F.count(F.lit(1)).as("n_hit_terms"),
        F.aggregate(
          F.array_sort(F.collect_list(F.struct(F.col("term"), F.col("contrib")))),
          F.lit(0.0), (acc, x) => acc + x.getField("contrib")).as("score"))
  }

  /** Sequence packing (concat-and-chunk): assign documents to fixed
    * token-budget chunks — the standard way training examples are packed.
    * Documents are processed per `partitionCol` (e.g. language) in `idCol`
    * order; chunk id = floor(tokens-before-this-doc / budget) — the linear
    * packing rule (a document may straddle a boundary; real packers split
    * the remainder, which is a per-row decode concern, not a plan concern).
    * Integer-only arithmetic → deterministic on any engine/cluster. One
    * window shuffle on the partition key. */
  def packSequences(df: org.apache.spark.sql.DataFrame, partitionCol: String,
      idCol: String, textCol: String, budgetTokens: Long): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(partitionCol)
      .orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(F.col(partitionCol), F.col(idCol),
        tokenCount(F.col(textCol)).cast("long").as("n_tokens"))
      .withColumn("__before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0L)))
      // integer DIV: corpus-scale cumsums must not round-trip through double
      .withColumn("chunk_id", F.expr(s"__before DIV $budgetTokens"))
      .drop("__before")
  }

  /** The default stopword bag for quality signals: every language-marker
    * word, deduped and sorted (deterministic order → deterministic plans). */
  val DefaultStopwords: Seq[String] =
    DefaultMarkers.values.flatten.toSeq.distinct.sorted

  /** Repetition + stopword quality signals (the classic published cleaning
    * rules: a document whose most common 3-gram covers a large fraction of
    * it is boilerplate; a natural-language document has a healthy stopword
    * fraction). Integer counts with one final double ratio each —
    * deterministic. Per-row array ops only (no explode/shuffle): the
    * signals compute inside the scan stage, in one imperative pass per row
    * ([[graft.plans.Expressions.RepetitionSignals]] — the interpreted-HOF
    * spelling below it evaluates thousands of lambda trees per document). */
  def repetitionSignals(text: Column, k: Int = 3,
      stopwords: Seq[String] = DefaultStopwords): Column =
    graft.plans.Expressions.repetitionSignals(tokens(text), k, stopwords)

  /** Column-tier (higher-order-function) spelling of [[repetitionSignals]] —
    * kept as the executable spec the native expression is parity-tested
    * against (FunctionsSpec); not the production path. */
  def repetitionSignalsColumns(text: Column, k: Int = 3,
      stopwords: Seq[String] = DefaultStopwords): Column = {
    val toks = tokens(text)
    val grams = graft.plans.Expressions.shingleArray(toks, k)
    // modal k-gram count = longest equal run of the SORTED grams — one
    // O(G log G) pass; the distinct×filter spelling is O(G²) per row and
    // collapses on long documents
    val topGram = F.aggregate(
      F.array_sort(grams),
      F.struct(F.lit("").as("prev"), F.lit(0L).as("run"), F.lit(0L).as("best")),
      (st, g) => {
        val run = F.when(g === st.getField("prev"), st.getField("run") + 1L)
          .otherwise(F.lit(1L))
        F.struct(g.as("prev"), run.as("run"),
          F.greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))
    val nGrams = F.size(grams)
    val nStop = F.size(F.filter(toks, t => F.array_contains(
      F.lit(stopwords.toArray), F.lower(t))))
    F.struct(
      F.when(nGrams > 0, topGram.cast("double") / nGrams.cast("double"))
        .otherwise(F.lit(0.0)).as("top_gram_frac"),
      F.when(F.size(toks) > 0, nStop.cast("double") / F.size(toks).cast("double"))
        .otherwise(F.lit(0.0)).as("stopword_frac"))
  }

  /** PII-style redaction: emails and long digit runs replaced by tags —
    * the anonymization pass before training-corpus release. Pure
    * `regexp_replace` chain (codegen'd); patterns stick to the regex
    * subset every engine agrees on. */
  def redactPii(text: Column): Column =
    F.regexp_replace(
      F.regexp_replace(text, PiiEmailRe, "<EMAIL>"),
      PiiPhoneRe, "<PHONE>")

  private val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiPhoneRe = "[0-9][0-9 ()+-]{6,}[0-9]"

  /** Redaction REPORT — the audit face of [[redactPii]] a corpus release
    * needs next to the anonymized text: per doc, how many spans each
    * category masked plus the md5 of the redacted text (the cheap
    * cross-engine witness that the replacement output itself is
    * identical, not just the counts). Emails are counted on the raw
    * text; phone runs on the email-redacted text, matching the replace
    * chain's order (a digit run inside an email must not count twice).
    * Pure scan-stage regex work — zero shuffle, linear in corpus bytes;
    * patterns stay in the leftmost-greedy subset Java regex and RE2
    * evaluate identically. */
  def redactPiiReport(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val afterEmail = F.regexp_replace(F.col(textCol), PiiEmailRe, "<EMAIL>")
    df.select(F.col(idCol),
      F.size(F.regexp_extract_all(F.col(textCol), F.lit(PiiEmailRe), F.lit(0)))
        .cast("long").as("n_emails"),
      F.size(F.regexp_extract_all(afterEmail, F.lit(PiiPhoneRe), F.lit(0)))
        .cast("long").as("n_phones"),
      F.md5(F.regexp_replace(afterEmail, PiiPhoneRe, "<PHONE>")).as("redacted_fp"))
  }

  /** Document fingerprint, oracle-parity tier: md5 of the normalized text
    * (lowercased, squeezed whitespace) — stable across engines. The squeeze
    * is the imperative [[graft.plans.Expressions.SqueezeWs]] byte pass, not
    * `regexp_replace('\\s+')`: identical output, no per-char regex NFA on
    * what is a full-corpus scan. */
  def fingerprintMd5(text: Column): Column =
    F.md5(graft.plans.Expressions.squeezeWhitespace(F.lower(text)))

  /** Document fingerprint, rolling-hash tier: 64-bit hash chain over tokens
    * (`acc ← xxhash64(acc, token)`) — order-sensitive (a true content
    * fingerprint, not a bag hash), single pass, codegen'd, and overflow-free
    * under ANSI mode (no raw multiply). */
  def fingerprintRolling(text: Column): Column =
    F.aggregate(tokens(text), F.lit(42L), (acc, w) => F.xxhash64(acc, w))

  /** Bigram language-model fluency score per document — the CCNet-style
    * "LM quality filter" stage of a training-data pipeline: docs whose
    * word-to-word transitions are common in the corpus score high, word
    * salad scores low (complementing [[rarityScore]], which sees only
    * UNIGRAM frequency and cannot tell shuffled text from prose).
    *
    * Add-one-smoothed conditional in INTEGER parts-per-million:
    * `ppm(w1→w2) = (c2(w1,w2) + 1) * 1e6 DIV (c1(w1) + V)` — integer
    * arithmetic end-to-end, so per-doc sums are order-free and
    * oracle-exact (the same no-transcendentals discipline as
    * [[tfidfTopTerms]]; a float ln-perplexity would differ in libm
    * rounding across engines). Returns (id, n_bigrams, lm_sum_ppm,
    * lm_avg_ppm); docs with fewer than 2 tokens have no bigram and drop
    * out, like sub-k-shingle docs in MinHash.
    *
    * Scale shape: one explode for bigrams, two map-side-combined counts
    * (bigram, unigram), a 1-row vocab-size broadcast, and two
    * co-partitioned joins keyed by the bigram/unigram — the vocabulary
    * tables carry NO doc ids, so the big joins move ids+counts only.
    * Long arithmetic holds to ~9e12 occurrences of a single bigram
    * (c2 * 1e6 < 2^63), far past any real corpus. */
  def bigramLmScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame = {
    val ts = tokens(F.col(textCol))
    // bigrams as single "w1 w2" strings via the NATIVE shingle pass — the
    // zip_with/struct spelling interprets its lambda per token on what is
    // a full-corpus scan; a one-string key also joins cheaper than a
    // two-column struct. w1 is recovered with codegen'd substring_index
    // (tokens cannot contain the space separator).
    val bi = df.select(F.col(idCol),
      F.explode(Dedup.shingles(F.col(textCol), 2)).as("__bg"))
    val uni = df.select(F.explode(ts).as("__w1"))
      .groupBy("__w1").agg(F.count(F.lit(1)).as("__c1"))
    val big = bi.groupBy("__bg").agg(F.count(F.lit(1)).as("__c2"))
    // V = number of distinct unigrams = the row count of `uni` — reusing it
    // saves a whole extra corpus explode + distinct-aggregate pass
    val v = uni.agg(F.count(F.lit(1)).as("__v"))
    // r16 (guide §2.3): the ppm is a function of the DISTINCT bigram
    // alone — score the vocabulary table (one vocab-sized unigram probe
    // join) and attach with ONE occurrence join, instead of running both
    // probe joins over the corpus-sized occurrence frame. Identical
    // per-occurrence __ppm, identical order-free per-doc sums.
    val scored = big
      .withColumn("__w1", F.substring_index(F.col("__bg"), " ", 1))
      .join(uni, Seq("__w1"))
      .crossJoin(F.broadcast(v))
      .select(F.col("__bg"),
        F.expr("((__c2 + 1) * 1000000) DIV (__c1 + __v)").as("__ppm"))
    bi.join(scored, Seq("__bg"))
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_bigrams"),
        F.sum("__ppm").as("lm_sum_ppm"))
      .select(F.col(idCol), F.col("n_bigrams"), F.col("lm_sum_ppm"),
        F.expr("lm_sum_ppm DIV n_bigrams").as("lm_avg_ppm"))
  }

  /** Interpolated trigram LM fluency score — the next modeling tier above
    * [[bigramLmScore]] (CCNet scores with a 5-gram KenLM; the trigram
    * interpolation captures the same fluency ordering): per trigram
    * position, `score = (6·p3 + 3·p2 + 1·p1) DIV 10` where each p is an
    * add-one-smoothed conditional in integer ppm —
    * `p3 = (c(w1w2w3)+1)·1e6 DIV (c(w1w2)+V)`,
    * `p2 = (c(w2w3)+1)·1e6 DIV (c(w2)+V)`,
    * `p1 = (c(w3)+1)·1e6 DIV (N+V)` — all-integer, engine-deterministic.
    *
    * Scale shape mirrors the bigram scorer: count tables are keyed by the
    * gram string (one map-side-combined shuffle each), the per-trigram
    * probe joins are all vocabulary-keyed (co-partitioned at scale), V
    * and N are 1-row broadcasts, and context/suffix/last-word keys are
    * recovered from the single trigram string with codegen'd
    * `substring_index` (tokens cannot contain the separator). */
  def trigramLmScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    // tokenize ONCE and cut: the tri/bi/uni tables and the per-doc probe
    // otherwise each re-scan the corpus and re-run the regex tokenizer
    // (4 passes — measured 1.35 s → 1.17 s at sf0.1; the remaining cost
    // is the gram-keyed probe joins, which are the operator). The
    // materialized frame is (id, tokens) ≈ corpus text size — at 100 TB
    // swap the cut for a persisted stage or accept the
    // re-scans (DSIR's trade at Sampling.scala:176 goes the other way
    // because ITS reuse frame is per-token, 3× larger than this one).
    val base = Lineage.cut(df
      .select(F.col(idCol), tokens(F.col(textCol)).as("__ts")))
    val tri = base.select(F.col(idCol),
      F.explode(graft.plans.Expressions.shingleArray(F.col("__ts"), 3)).as("__tg"))
    val triC = tri.groupBy("__tg").agg(F.count(F.lit(1)).as("__c3"))
    val biC = base.select(
        F.explode(graft.plans.Expressions.shingleArray(F.col("__ts"), 2)).as("__bg"))
      .groupBy("__bg").agg(F.count(F.lit(1)).as("__c2"))
    val uniC = base.select(F.explode(F.col("__ts")).as("__w"))
      .groupBy("__w").agg(F.count(F.lit(1)).as("__c1"))
    // V and N from ONE aggregate over the unigram table: one scalar
    // broadcast instead of two redundant aggregation passes + cross joins
    val vn = uniC.agg(F.count(F.lit(1)).as("__v"), F.sum("__c1").as("__n"))
    // r16 (guide §2.3 "aggregate before you shuffle"): the score is a
    // function of the DISTINCT trigram alone, so compute it once per
    // vocabulary entry — four probe joins between VOCAB-sized count
    // tables — and attach it to the corpus-sized occurrence frame with
    // ONE gram-keyed join. The old spelling joined the occurrence frame
    // against the count tables five times (five corpus-sized hash joins);
    // identical per-occurrence __ppm, identical per-doc integer sums.
    val scored = triC
      .withColumn("__ctx", F.substring_index(F.col("__tg"), " ", 2))
      .withColumn("__suf", F.substring_index(F.col("__tg"), " ", -2))
      .withColumn("__w2", F.substring_index(F.col("__suf"), " ", 1))
      .withColumn("__w3", F.substring_index(F.col("__tg"), " ", -1))
      .join(biC.select(F.col("__bg").as("__ctx"), F.col("__c2").as("__cctx")), Seq("__ctx"))
      .join(biC.select(F.col("__bg").as("__suf"), F.col("__c2").as("__csuf")), Seq("__suf"))
      .join(uniC.select(F.col("__w").as("__w2"), F.col("__c1").as("__cw2")), Seq("__w2"))
      .join(uniC.select(F.col("__w").as("__w3"), F.col("__c1").as("__cw3")), Seq("__w3"))
      .crossJoin(F.broadcast(vn))
      .select(F.col("__tg"),
        F.expr("""(6 * (((__c3 + 1) * 1000000) DIV (__cctx + __v))
                 + 3 * (((__csuf + 1) * 1000000) DIV (__cw2 + __v))
                 + 1 * (((__cw3 + 1) * 1000000) DIV (__n + __v))) DIV 10""")
          .as("__ppm"))
    tri
      .join(scored, Seq("__tg"))
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_trigrams"),
        F.sum("__ppm").as("lm3_sum_ppm"))
      .select(F.col(idCol), F.col("n_trigrams"), F.col("lm3_sum_ppm"),
        F.expr("lm3_sum_ppm DIV n_trigrams").as("lm3_avg_ppm"))
  }

  /** Sliding-window document chunking — the passage-splitting step of an
    * embedding/retrieval pipeline: token windows of `window` words every
    * `stride` words (overlap = window − stride), the trailing chunk
    * shorter. Pure scan-stage explode: no shuffle, no state — chunking
    * 100 TB is exactly one pass. Chunk ids are 0-based and contiguous
    * per document; empty documents produce no chunks. */
  def chunkDocuments(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val starts = F.sequence(F.lit(0),
      F.greatest(F.size(F.col("__t")) - 1, F.lit(0)), F.lit(stride))
    df.select(F.col(idCol), tokens(F.col(textCol)).as("__t"))
      .select(F.col(idCol),
        F.posexplode(F.transform(starts, s =>
          F.slice(F.col("__t"), s + 1, F.lit(window)))).as(Seq("chunk_id", "__c")))
      .where(F.size(F.col("__c")) > 0)
      .select(F.col(idCol), F.col("chunk_id").cast("long").as("chunk_id"),
        F.array_join(F.col("__c"), " ").as("chunk_text"),
        F.size(F.col("__c")).cast("long").as("n_tokens"))
  }

  /** Tokenizer-coverage audit: per-document out-of-vocabulary rate against
    * the corpus' own top-`vocabSize` words (ties broken by word — fully
    * deterministic). The UNK-rate a fixed-vocabulary tokenizer would see.
    *
    * Scale shape: the vocabulary is a TakeOrderedAndProject over the word
    * counts (k rows per partition cross the wire) and broadcasts; the
    * per-doc pass is one explode + broadcast probe + id-keyed aggregate.
    * OOV in integer ppm. */
  def oovRate(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocabSize: Int): org.apache.spark.sql.DataFrame = {
    val words = df.select(F.explode(tokens(F.col(textCol))).as("__w"))
    val vocab = words.groupBy("__w").agg(F.count(F.lit(1)).as("__c"))
      .orderBy(F.col("__c").desc, F.col("__w").asc)
      .limit(vocabSize)
      .select(F.col("__w"), F.lit(1).as("__in"))
    df.select(F.col(idCol), F.explode(tokens(F.col(textCol))).as("__w"))
      .join(F.broadcast(vocab), Seq("__w"), "left")
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_tokens"),
        F.sum(F.when(F.col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", F.expr("n_oov * 1000000L DIV n_tokens"))
  }

  /** CCNet-style fluency bucketing: label each document head / middle /
    * tail by which tercile of the corpus' [[bigramLmScore]] distribution
    * it falls in (CCNet buckets on LM perplexity; higher avg-ppm here =
    * more fluent = head). Deliberately NOT an `ntile` window — a global
    * ntile is a single-partition sort of the whole corpus. Instead the
    * two tercile cutoffs come from one `percentile` aggregate (exact,
    * engine-parity with DuckDB `quantile_cont` on integer ppm inputs)
    * and the labeling is a broadcast-scalar comparison inside the scan:
    * fully distributed at any corpus size.
    */
  def fluencyBuckets(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    val lm = bigramLmScore(df, idCol, textCol)
      .select(F.col(idCol), F.col("lm_avg_ppm"))
    val cuts = lm.agg(
      F.expr("percentile(lm_avg_ppm, array(1.0D/3, 2.0D/3))").as("__c"))
      .select(F.element_at(F.col("__c"), 1).as("__c1"),
        F.element_at(F.col("__c"), 2).as("__c2"))
    lm.crossJoin(F.broadcast(cuts))
      .select(F.col(idCol), F.col("lm_avg_ppm"),
        F.when(F.col("lm_avg_ppm") >= F.col("__c2"), "head")
          .when(F.col("lm_avg_ppm") >= F.col("__c1"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Per-source corpus data card — the summary panel a dataset release
    * ships (docs, chars, tokens, language spread, exact-duplicate rate,
    * mean length) computed in ONE pass + one shuffle on the source key:
    * every per-row stat (length, token count, [[fingerprintMd5]]) is a
    * scan-stage map, the groupBy partial-aggregates map-side, and the two
    * distinct-counts expand to the standard two-phase plan. Nothing wide
    * exceeds |sources| × |langs| + |sources| × |distinct fingerprints|
    * (the dedup-style fingerprint-only shuffle — document bytes never
    * move). Mean is the one double: exact integer sums divided once at
    * the end (the module's reproducibility discipline). */
  def dataCard(df: org.apache.spark.sql.DataFrame, sourceCol: String,
               langCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val t = F.col(textCol)
    df.select(F.col(sourceCol), F.col(langCol),
        F.length(t).cast("long").as("__chars"),
        tokenCount(t).cast("long").as("__toks"),
        fingerprintMd5(t).as("__fp"))
      .groupBy(sourceCol)
      .agg(
        F.count(F.lit(1)).as("n_docs"),
        F.sum("__chars").as("n_chars"),
        F.sum("__toks").as("n_tokens"),
        F.countDistinct(F.col(langCol)).as("n_langs"),
        F.countDistinct(F.col("__fp")).as("n_unique"))
      .withColumn("dup_docs", F.col("n_docs") - F.col("n_unique"))
      .withColumn("mean_tokens",
        F.col("n_tokens").cast("double") / F.col("n_docs").cast("double"))
  }

  /** BPE-style pre-tokenization (GPT-2-family pattern, RE2-safe subset):
    * contraction suffixes, letter runs, digit runs, and non-space symbol
    * runs each become one pre-token — the segmentation BPE merge training
    * runs inside. The canonical GPT-2 pattern's space-lookahead is dropped
    * (RE2/oracle engines lack lookahead); leading spaces separate rather
    * than attach, which only shifts token boundaries, not counts, on
    * space-separated text. Pure scan-stage `regexp_extract_all`
    * (codegen'd), no explode. */
  val bpePretokenPattern: String = "'(s|t|re|ve|m|ll|d)|\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+"

  def bpePretokenize(text: Column): Column =
    F.regexp_extract_all(text, F.lit(bpePretokenPattern), F.lit(0))

  /** Pre-token statistics per row: total runs, letter/digit/symbol run
    * counts and the first pre-token — the token-counting face over mixed
    * text (JSON, code, punctuated prose) where whitespace counting
    * undercounts badly. */
  def bpePretokenStats(text: Column): Seq[(String, Column)] = Seq(
    "n_pretokens" -> F.size(bpePretokenize(text)).cast("long"),
    "n_letter_runs" -> F.size(F.regexp_extract_all(text,
      F.lit("\\p{L}+"), F.lit(0))).cast("long"),
    "n_digit_runs" -> F.size(F.regexp_extract_all(text,
      F.lit("\\p{N}+"), F.lit(0))).cast("long"),
    "first_pretoken" -> F.element_at(bpePretokenize(text), 1))

  /** Vocabulary coverage curve — the tokenizer-design audit: what fraction
    * of all corpus tokens the top-`r` most frequent terms cover, for each
    * requested rank `r`. Read before choosing a vocab size / BPE merge
    * budget: the knee of this curve is where added vocab stops paying.
    *
    * Scale shape (100 TB): one term-count shuffle with map-side combine —
    * the only corpus-sized exchange — then a bounded global top-`max(r)`
    * (TakeOrdered, never a vocab-wide sort) whose result is folded as an
    * in-row array (array_sort + slice + aggregate — no single-partition
    * window). Ties order by (count desc, term asc), deterministic on both
    * engines. The coverage numerator is corpus-scale, so its ×1e6 step is
    * widened through DECIMAL(38,0) per the standing overflow recipe.
    * Output: (rank, covered_tokens, total_tokens, n_terms, covered_ppm);
    * ranks past the vocabulary size cover everything (ppm = 1e6). */
  def vocabCoverage(df: org.apache.spark.sql.DataFrame, textCol: String,
      ranks: Seq[Long]): org.apache.spark.sql.DataFrame = {
    require(ranks.nonEmpty && ranks.forall(_ > 0), s"ranks must be positive: $ranks")
    val maxR = ranks.max.toInt
    // feeds the totals AND the top-k — count once
    val counts = Lineage.cut(df.select(F.explode(tokens(F.col(textCol))).as("__w"))
      .groupBy("__w").agg(F.count(F.lit(1)).as("__c")))
    val totals = counts.agg(F.sum("__c").as("__tot"),
      F.count(F.lit(1)).as("n_terms"))
    val top = counts.orderBy(F.col("__c").desc, F.col("__w")).limit(maxR)
      .agg(F.array_sort(F.collect_list(F.struct(
        (-F.col("__c")).as("nc"), F.col("__w").as("w"), F.col("__c").as("c"))))
        .as("__s"))
    top.join(totals) // two 1-row frames
      .select(F.explode(F.array(ranks.map(F.lit(_)): _*)).as("rank"),
        F.col("__s"), F.col("__tot"), F.col("n_terms"))
      .select(F.col("rank"),
        F.expr("aggregate(slice(__s, 1, CAST(rank AS INT)), CAST(0 AS BIGINT), (acc, x) -> acc + x.c)")
          .as("covered_tokens"),
        F.col("__tot").as("total_tokens"), F.col("n_terms"))
      .withColumn("covered_ppm", F.expr(
        "CAST(CAST(covered_tokens AS DECIMAL(38,0)) * 1000000 DIV total_tokens AS BIGINT)"))
  }

  /** Pairwise source-distribution similarity — the mixture-design input:
    * how lexically close two data domains are, measured as cosine between
    * their unigram term-frequency distributions. Used to pick mixture
    * weights (near-identical domains shouldn't both get full weight) and
    * to catch a source whose distribution drifted between crawls.
    *
    * Exactness: each group's distribution is integer ppm term frequencies
    * (`cnt * 1e6 DIV total`, the corpus-scale count widened through
    * DECIMAL(38,0) per the standing overflow recipe). Because ppm
    * frequencies sum to ≤ 1e6 per group, every derived sum is bounded by
    * (Σf)² = 1e12 — dot products and squared norms can NEVER overflow a
    * BIGINT regardless of vocabulary size. The output ships the exact
    * fraction (dot, norm_a2, norm_b2) plus `cos_ppm` with floor-sqrt
    * norms (exact per the IEEE-sqrt recipe since norm2 ≤ 1e12 < 2^51);
    * NULL when a degenerate group's floored frequencies are all zero.
    *
    * Scale shape (100 TB): one (group, term) count shuffle with map-side
    * combine — the only corpus-sized exchange; totals and norms are
    * |groups| rows and broadcast. The pair join is vocabulary-keyed with
    * per-term fan-out |groups containing t|² — sized for domain-level
    * group counts (tens to thousands), not per-document keys. The
    * partial aggregation after the join folds that fan-out in place, so
    * only |groups|² pair rows reach the shuffle; the fan-out is CPU work
    * in the task owning the term, Σ_t |groups(t)|² ≤ V·S² total. When S
    * itself is large, `maxSourcesPerTerm` caps the per-term work: terms
    * present in more sources than the cap (the every-source stopwords —
    * each costs a full S² fan-out) are EXCLUDED from the whole
    * computation (dot AND norms, so cos(a,a) stays exactly 1e6 on the
    * capped vocabulary). The default keeps the exact full-vocabulary
    * semantics. Mirrors [[graft.functions.Dedup.lshCandidatePairs]]'s
    * counted-cap discipline: capped runs should pair with
    * [[sourceSimilarityOversizeTerms]] — the no-silent-caps audit face.
    * The tf table feeds three consumers (both join sides + norms), so it
    * is lineage-cut once rather than recomputed per use. */
  def sourceSimilarity(df: org.apache.spark.sql.DataFrame, groupCol: String,
      textCol: String,
      maxSourcesPerTerm: Int = Int.MaxValue): org.apache.spark.sql.DataFrame = {
    val cnt = df
      .select(F.col(groupCol).as("__g"), F.explode(tokens(F.col(textCol))).as("__w"))
      .groupBy("__g", "__w").agg(F.count(F.lit(1)).as("__c"))
    val totals = cnt.groupBy("__g").agg(F.sum("__c").as("__t"))
    val tfAll = cnt.join(F.broadcast(totals), "__g")
      .select(F.col("__g"), F.col("__w"),
        F.expr("CAST(CAST(__c AS DECIMAL(38,0)) * 1000000 DIV __t AS BIGINT)").as("__f"))
    val tf = Lineage.cut(if (maxSourcesPerTerm == Int.MaxValue) tfAll
      else {
        // the per-term source count is a vocabulary-keyed aggregate with
        // map-side combine — cheap relative to the S² fan-out it prevents.
        // tfAll feeds both the count and the join: cut it once (the same
        // double-consumer discipline as the tf table below)
        val tfCut = Lineage.cut(tfAll)
        val okTerms = tfCut.groupBy("__w")
          .agg(F.count(F.lit(1)).as("__ns"))
          .where(F.col("__ns") <= maxSourcesPerTerm)
          .select("__w")
        tfCut.join(okTerms, "__w").select("__g", "__w", "__f")
      })
    val norms = tf.groupBy("__g").agg(F.sum(F.expr("__f * __f")).as("__n2"))
    val dots = tf.select(F.col("__g").as("src_a"), F.col("__w"), F.col("__f").as("__fa"))
      .join(tf.select(F.col("__g").as("src_b"), F.col("__w"), F.col("__f").as("__fb")),
        "__w")
      .where(F.col("src_a") < F.col("src_b"))
      .groupBy("src_a", "src_b").agg(F.sum(F.expr("__fa * __fb")).as("dot"))
    dots
      .join(F.broadcast(norms.select(F.col("__g").as("src_a"),
        F.col("__n2").as("norm_a2"))), "src_a")
      .join(F.broadcast(norms.select(F.col("__g").as("src_b"),
        F.col("__n2").as("norm_b2"))), "src_b")
      .select(F.col("src_a"), F.col("src_b"), F.col("dot"),
        F.col("norm_a2"), F.col("norm_b2"),
        F.expr("""CASE WHEN CAST(floor(sqrt(norm_a2)) AS BIGINT) *
                            CAST(floor(sqrt(norm_b2)) AS BIGINT) != 0
                  THEN dot * 1000000 DIV (CAST(floor(sqrt(norm_a2)) AS BIGINT) *
                                          CAST(floor(sqrt(norm_b2)) AS BIGINT))
                  END""").as("cos_ppm"))
  }

  /** The terms a capped [[sourceSimilarity]] run EXCLUDES — the audit face
    * of the "no silent caps" rule (the [[graft.functions.Dedup.lshOversizeBuckets]]
    * pattern): (term, n_sources) for every term present in more than
    * `maxSourcesPerTerm` sources. Cheap — the same (group, term) count
    * shuffle as the main operator, no pair fan-out. */
  def sourceSimilarityOversizeTerms(df: org.apache.spark.sql.DataFrame,
      groupCol: String, textCol: String,
      maxSourcesPerTerm: Int): org.apache.spark.sql.DataFrame =
    df.select(F.col(groupCol).as("__g"), F.explode(tokens(F.col(textCol))).as("term"))
      .groupBy("term")
      .agg(F.count_distinct(F.col("__g")).as("n_sources"))
      .where(F.col("n_sources") > maxSourcesPerTerm)

  /** Per-source boilerplate gram detection — the template-removal step of
    * web-crawl cleaning (CCNet/C4 style): an n-gram present in at least
    * `minDocRatioPpm` of a SOURCE's documents is that source's navigation/
    * footer/template text, not content (corpus-wide counts, [[graft.functions.Dedup.maskDuplicatedSpans]],
    * can't see this — a template unique to one small source drowns in the
    * global denominator). Returns (source, gram, df, n_docs, ratio_ppm).
    *
    * Doc frequency, not occurrence count: grams are per-document
    * de-duplicated (`array_distinct`) BEFORE the count, so a gram repeated
    * inside one document counts once. One shuffle keyed (source, gram) with
    * map-side combine; the per-source doc totals are a broadcast the size
    * of the source list; ratio in integer ppm (engine-deterministic). */
  def boilerplateGrams(df: org.apache.spark.sql.DataFrame, textCol: String,
      sourceCol: String, n: Int = 2,
      minDocRatioPpm: Long = 200000L): org.apache.spark.sql.DataFrame = {
    val docGrams = df.select(F.col(sourceCol).as("source"),
      F.explode(F.array_distinct(Dedup.shingles(F.col(textCol), n))).as("gram"))
    val dfCounts = docGrams.groupBy("source", "gram")
      .agg(F.count(F.lit(1)).as("df"))
    val docsPerSource = df.groupBy(F.col(sourceCol).as("source"))
      .agg(F.count(F.lit(1)).as("n_docs"))
    dfCounts.join(F.broadcast(docsPerSource), "source")
      .withColumn("ratio_ppm", F.expr("df * 1000000L DIV n_docs"))
      .where(F.col("ratio_ppm") >= minDocRatioPpm)
  }

  /** FastText-style linear-classifier INFERENCE over hashed bag-of-token
    * features — the quality/spam scorer curation pipelines run over every
    * document. Each token hashes to one of `buckets` feature slots
    * (engine-portable [[graft.plans.Expressions.Md5Bucket]]) and the
    * model's weight for that slot accumulates into the document score,
    * reported as the mean token weight in milli-weight units
    * (`score_milli = 1000·score_sum/n_tokens`; weights are 0..2000, so
    * scores center on 1 000 000) plus a keep/drop verdict against
    * `keepThresholdMilli` (default = the 1 000 000 expected mean).
    *
    * The weight table here is closed-form — `w(b) = (b·2654435761) mod
    * 2001`, a deterministic stand-in for trained weights that both engines
    * reproduce exactly — but the SHAPE is the point: a trained model is
    * the same plan with the (bucket, weight) table collected into a
    * literal map or broadcast. Either way inference runs ENTIRELY in the
    * scan stage (`transform` + `aggregate` over the token array — no
    * explode, no join, no shuffle), which is the optimal 100 TB plan:
    * model scoring is embarrassingly parallel and the only cost is the
    * corpus scan itself. Docs with no tokens produce no row (mirrors the
    * DSIR no-feature rule; also avoids the 0-token division).
    * Cf. the per-tuple `each(Function)` tier the reference runs scorers
    * in (`storm-core/src/jvm/storm/trident/Stream.java:207-224`). */
  def classifierScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, buckets: Long = 4096L,
      keepThresholdMilli: Long = 1000000L): org.apache.spark.sql.DataFrame =
    // bucket < 4096 → bucket·2654435761 < 2^43: no ANSI long overflow
    scoreWith(df, idCol, textCol, keepThresholdMilli, t =>
      (graft.plans.Expressions.md5Bucket(t, buckets) * 2654435761L) % 2001L)

  /** Trained-model face of [[classifierScore]]: identical output contract,
    * but the weights come from a `(bucket, weight)` model table — a
    * trained classifier's hashed-feature weights — instead of the closed
    * form. A hashed-feature model is `buckets`-bounded BY CONSTRUCTION (a
    * model artifact, not data), so it collects to a dense literal array
    * shipped with the plan and inference stays the same zero-shuffle
    * scan-stage fold as the closed-form face; buckets absent from the
    * model weigh 0. For very large models prefer shipping the array via
    * an explicit broadcast variable or a broadcast join on exploded
    * tokens — the cap below keeps the literal path honest. */
  def classifierScoreWithModel(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, model: org.apache.spark.sql.DataFrame,
      bucketCol: String, weightCol: String, buckets: Long = 4096L,
      keepThresholdMilli: Long = 1000000L): org.apache.spark.sql.DataFrame = {
    require(buckets > 0 && buckets <= (1L << 22),
      s"dense literal model is capped at 4M buckets, got $buckets")
    val w = new Array[Long](buckets.toInt)
    model.select(F.col(bucketCol).cast("long"), F.col(weightCol).cast("long"))
      .collect().foreach { r =>
        val b = r.getLong(0)
        require(b >= 0 && b < buckets, s"model bucket out of range: $b")
        w(b.toInt) = r.getLong(1)
      }
    val wlit = F.lit(w)
    scoreWith(df, idCol, textCol, keepThresholdMilli, t =>
      F.element_at(wlit,
        (graft.plans.Expressions.md5Bucket(t, buckets) + 1L).cast("int")))
  }

  /** Shared scoring plumbing for the classifier faces: per-token weight →
    * scan-stage fold → milli-score + keep verdict. */
  private def scoreWith(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, keepThresholdMilli: Long,
      weightOf: Column => Column): org.apache.spark.sql.DataFrame = {
    val ts = tokens(F.col(textCol))
    df.select(F.col(idCol),
        F.size(ts).cast("long").as("n_tokens"),
        F.aggregate(F.transform(ts, weightOf), F.lit(0L),
          (acc, x) => acc + x).as("score_sum"))
      .where(F.col("n_tokens") > 0L)
      .withColumn("score_milli", F.expr("score_sum * 1000L DIV n_tokens"))
      .withColumn("keep", F.col("score_milli") >= keepThresholdMilli)
  }

  /** Collapse runs of consecutive IDENTICAL tokens to a single occurrence —
    * the cleaning pass for degenerate-generation artifacts ("the the the
    * the …") that repetition SIGNALS ([[repetitionSignals]]) only detect.
    * Pure scan-stage work via the native single-pass
    * [[graft.plans.Expressions.SqueezeRuns]] (the indexed higher-order
    * `filter` spelling re-evaluates the outer tokenization per element
    * inside its interpreted lambda — measured ~15× slower; see the
    * expression's scaladoc); returns per doc the cleaned text plus
    * before/after token counts so the removal volume is auditable.
    * Non-consecutive repeats are untouched — this is run squeezing, not
    * deduplication. */
  def squeezeRepeatTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(F.col(idCol), tokens(F.col(textCol)).as("__ts"))
      .withColumn("__keep",
        graft.plans.Expressions.squeezeRuns(F.col("__ts")))
      .select(F.col(idCol),
        F.size(F.col("__ts")).cast("long").as("n_before"),
        F.size(F.col("__keep")).cast("long").as("n_after"),
        F.array_join(F.col("__keep"), " ").as("clean_text"))

  /** Quality-gate funnel report: documents flow through an ORDERED gate
    * sequence and each is charged to the FIRST gate it fails — the
    * pipeline-observability face of curation (every real corpus run ends
    * with "where did my documents go?"). Returns one row per gate:
    * (gate_idx, gate, n_in, n_out). Gates are arbitrary boolean Columns,
    * so precomputed flags (a dedup keep flag, a classifier verdict) chain
    * with scan-stage predicates in one funnel.
    *
    * Scale shape: ONE corpus scan computing the first-failing-gate index
    * per row into a ≤|gates|+1-row count; everything after (cumulative
    * in/out arithmetic) happens on that tiny cut frame — the non-equi
    * joins below are |gates|×|gates| nested loops over broadcast rows,
    * never corpus rows. */
  /** The per-row charging rule of [[gateFunnel]] as a standalone Column:
    * index of the FIRST failing gate, or `gates.size` if all pass. The
    * streaming funnel monitor keys its running state-store counts on
    * this (StateStoreSpec pins stream-vs-batch parity). */
  def firstFailGate(gates: Seq[(String, Column)]): Column = {
    require(gates.nonEmpty, "need at least one gate")
    gates.zipWithIndex.drop(1)
      .foldLeft(F.when(!gates.head._2, 0)) { case (acc, ((_, p), i)) =>
        acc.when(!p, i) }
      .otherwise(gates.size)
  }

  def gateFunnel(df: org.apache.spark.sql.DataFrame,
      gates: Seq[(String, Column)]): org.apache.spark.sql.DataFrame = {
    require(gates.nonEmpty, "gateFunnel needs at least one gate")
    val dropped = Lineage.cut(df.select(firstFailGate(gates).cast("long").as("__ff"))
      .groupBy("__ff").agg(F.count(F.lit(1)).as("__d")))
    val total = dropped.agg(F.coalesce(F.sum("__d"), F.lit(0L)).as("__n"))
    val s = df.sparkSession
    import s.implicits._
    val gdf = gates.zipWithIndex
      .map { case ((name, _), i) => (i.toLong, name) }.toDF("gate_idx", "gate")
    gdf.join(F.broadcast(dropped), F.col("__ff") <= F.col("gate_idx"), "left")
      .groupBy("gate_idx", "gate")
      .agg(
        F.coalesce(F.sum(F.when(F.col("__ff") < F.col("gate_idx"), F.col("__d"))),
          F.lit(0L)).as("__before"),
        F.coalesce(F.sum(F.when(F.col("__ff") === F.col("gate_idx"), F.col("__d"))),
          F.lit(0L)).as("__at"))
      .crossJoin(F.broadcast(total))
      .select(F.col("gate_idx"), F.col("gate"),
        (F.col("__n") - F.col("__before")).as("n_in"),
        (F.col("__n") - F.col("__before") - F.col("__at")).as("n_out"))
  }

  /** Per-source keep-threshold calibration for [[classifierScore]]: the
    * exact score quantile that realizes each TARGET keep rate, per group.
    * A global threshold keeps wildly different fractions of different
    * sources (their score distributions differ); this table is how a
    * token-budget run picks per-source thresholds BEFORE the filtering
    * pass — set `thr_keep25` as the gate and ~25% of that source
    * survives, by construction of the quantile.
    *
    * Output: (group, n_docs, thr_<name> ...) — one exact `percentile`
    * per requested (name, quantile) pair over integer milli scores
    * (bit-identical to DuckDB `quantile_cont`, the established parity).
    *
    * Scale shape: the scoring scan (zero-shuffle, q136's shape) joined
    * id-keyed to the (id, group) projection — co-partitioned at scale —
    * into one grouped aggregate; the exact-percentile buffer holds a
    * GROUP's scores, the same bounded-groups caveat (and histogram
    * fallback) as [[lengthQuantiles]]. */
  def thresholdCalibration(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, groupCol: String,
      quantiles: Seq[(String, Double)]): org.apache.spark.sql.DataFrame = {
    require(quantiles.nonEmpty, "need at least one (name, quantile) pair")
    val scored = classifierScore(df, idCol, textCol)
      .join(df.select(F.col(idCol), F.col(groupCol)), Seq(idCol))
    scored.groupBy(groupCol).agg(
      F.count(F.lit(1)).as("n_docs"),
      quantiles.map { case (name, q) =>
        F.expr(s"percentile(score_milli, $q)").as(s"thr_$name")
      }: _*)
  }

  /** Budget projection for a calibrated gate: apply each group's
    * [[thresholdCalibration]] threshold and report what survives —
    * (group, n_docs, docs_kept, tokens_kept). The closing of the
    * calibration loop: q168 answers "what threshold hits 25%?", this
    * answers "and how many tokens does that actually buy me?" (doc keep
    * RATE is set by the quantile; TOKEN yield is not, because score and
    * length correlate — the projection is the number the budget planner
    * needs).
    *
    * Scale shape: the scoring scan joined id-keyed to the (id, group)
    * projection, a grouped percentile (the q168 aggregate), and ONE more
    * pass of the same scored frame against the broadcast |groups|-row
    * threshold table. The scored frame feeds both passes, so it is
    * lineage-cut once — corpus text tokenizes once, not twice. */
  def budgetProjection(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, groupCol: String,
      quantile: Double): org.apache.spark.sql.DataFrame = {
    val scored = Lineage.cut(classifierScore(df, idCol, textCol)
      .join(df.select(F.col(idCol), F.col(groupCol)), Seq(idCol))
      .select(F.col(groupCol), F.col("score_milli"), F.col("n_tokens")))
    val thr = scored.groupBy(groupCol).agg(
      F.count(F.lit(1)).as("n_docs"),
      F.expr(s"percentile(score_milli, $quantile)").as("__thr"))
    scored.join(F.broadcast(thr), Seq(groupCol))
      .groupBy(F.col(groupCol), F.col("n_docs"))
      .agg(
        F.sum(F.when(F.col("score_milli") >= F.col("__thr"), 1L).otherwise(0L))
          .as("docs_kept"),
        F.sum(F.when(F.col("score_milli") >= F.col("__thr"), F.col("n_tokens"))
          .otherwise(0L)).as("tokens_kept"))
      .select(F.col(groupCol), F.col("n_docs"), F.col("docs_kept"),
        F.col("tokens_kept"))
  }

  /** Pairwise total-variation distance between per-group unigram
    * distributions, in ppm — the metric half of mixture design that
    * [[sourceSimilarity]]'s cosine misses: cosine saturates near 1 for any
    * two large natural-language sources (shared stopword mass dominates
    * the dot product), while TV distance `½·Σ|p−q|` stays sensitive to
    * the content-word tail and is a proper metric (triangle inequality
    * holds, so the matrix supports clustering sources).
    *
    * Exactness: distributions are integer ppm (`cnt·1e6 DIV total`,
    * corpus-scale counts widened through DECIMAL(38,0)). The vocab-pair
    * sum runs over SHARED terms only: `2·TV = Σ_shared(|p−q| − p − q) +
    * Tₐ + T_b` where `T_g = Σ p_g` over g's whole vocabulary — terms the
    * other source lacks contribute their full mass through the `T`s, so
    * a full-outer join over the union vocabulary never happens. The
    * shared-term summand is negative but the final numerator is ≥ 0 by
    * construction, so the closing `DIV 2` floors identically in both
    * engines (DIV/`//` agree on non-negatives only).
    *
    * Scale shape (100 TB): one (group, term) count shuffle with map-side
    * combine — the only corpus-sized exchange; the ppm table feeds three
    * consumers (both pair-join sides + per-group masses), so it is
    * lineage-cut once. Pair fan-out per term is |groups containing t|²,
    * sized for domain-level group counts like [[sourceSimilarity]]; at
    * large S, `maxSourcesPerTerm` excludes every-source stopword terms
    * from the WHOLE computation (shared sum AND masses, keeping the two
    * exactly consistent — TV is then the exact metric on the capped
    * vocabulary, and tv(a,a) stays 0). Capped runs pair with
    * [[sourceSimilarityOversizeTerms]], the shared no-silent-caps audit.
    * Output has a row for EVERY group pair (via the broadcast mass
    * table), including pairs sharing no term (TV = (Tₐ+T_b) DIV 2). */
  def sourceDivergence(df: org.apache.spark.sql.DataFrame, groupCol: String,
      textCol: String,
      maxSourcesPerTerm: Int = Int.MaxValue): org.apache.spark.sql.DataFrame = {
    val cnt0 = df
      .select(F.col(groupCol).as("__g"), F.explode(tokens(F.col(textCol))).as("__w"))
      .groupBy("__g", "__w").agg(F.count(F.lit(1)).as("__c"))
    val cnt = if (maxSourcesPerTerm == Int.MaxValue) cnt0
      else {
        // cnt0 feeds both the per-term count and the join — cut it once
        val cntCut = Lineage.cut(cnt0)
        val okTerms = cntCut.groupBy("__w").agg(F.count(F.lit(1)).as("__ns"))
          .where(F.col("__ns") <= maxSourcesPerTerm).select("__w")
        cntCut.join(okTerms, "__w").select("__g", "__w", "__c")
      }
    // totals over the CAPPED vocabulary: masses and the shared sum must
    // see the same distribution or tv(a,a) drifts off zero
    val totals = cnt.groupBy("__g").agg(F.sum("__c").as("__t"))
    val ppm = Lineage.cut(cnt.join(F.broadcast(totals), "__g")
      .select(F.col("__g"), F.col("__w"),
        F.expr("CAST(CAST(__c AS DECIMAL(38,0)) * 1000000 DIV __t AS BIGINT)").as("__p")))
    val mass = ppm.groupBy("__g").agg(F.sum("__p").as("__m"))
    val shared = ppm.select(F.col("__g").as("src_a"), F.col("__w"), F.col("__p").as("__pa"))
      .join(ppm.select(F.col("__g").as("src_b"), F.col("__w"), F.col("__p").as("__pb")),
        "__w")
      .where(F.col("src_a") < F.col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(F.sum(F.expr("abs(__pa - __pb) - __pa - __pb")).as("__s"))
    F.broadcast(mass.select(F.col("__g").as("src_a"), F.col("__m").as("__ma")))
      .join(F.broadcast(mass.select(F.col("__g").as("src_b"), F.col("__m").as("__mb"))),
        F.col("src_a") < F.col("src_b"))
      .join(shared, Seq("src_a", "src_b"), "left")
      .select(F.col("src_a"), F.col("src_b"),
        F.expr("(coalesce(__s, 0L) + __ma + __mb) DIV 2").as("tv_ppm"))
  }

  /** Per-group token-length distribution: doc count, token total, and
    * exact quantiles (p25/p50/p75/p95) of per-document token counts — the
    * first chart on any corpus data card, and the number that sizes
    * sequence-packing budgets ([[sequencePack]]) and length-bucket batches
    * before a training run. Exact `percentile` over integer token counts,
    * not an approximate sketch: bit-identical to DuckDB `quantile_cont`
    * (the established integer-input parity), so it oracles cell-exact.
    *
    * Scale shape: one scan computing each doc's token count, one
    * group-keyed aggregate. Exact percentile buffers a group's count LIST
    * on the reducer — per-GROUP rows, the one deliberate non-streaming
    * aggregate here; for corpus-scale groups at 100 TB swap in a fixed
    * integer histogram (token counts are bounded small ints, histogram
    * quantiles are exact) — same output, bounded state. At data-card
    * group counts (sources/languages) the list path is both exact and
    * cheap. */
  def lengthQuantiles(df: org.apache.spark.sql.DataFrame, groupCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(F.col(groupCol), tokenCount(F.col(textCol)).cast("long").as("__n"))
      .groupBy(groupCol)
      .agg(F.count(F.lit(1)).as("n_docs"),
        F.sum("__n").as("total_tokens"),
        F.expr("percentile(__n, 0.25)").as("p25"),
        F.expr("percentile(__n, 0.50)").as("p50"),
        F.expr("percentile(__n, 0.75)").as("p75"),
        F.expr("percentile(__n, 0.95)").as("p95"))

  /** Per-document compression-ratio quality signal — the deflate test
    * used alongside the repetition/quality gates: highly compressible
    * text (boilerplate, repeated blocks, machine-generated filler)
    * lands at a LOW ratio, random/encrypted/base64 junk at a HIGH one,
    * and natural prose in between; corpora gate on both tails. Emits
    * (id, raw_bytes, comp_bytes, ratio_ppm) per document.
    *
    * Deterministic for a fixed zlib (level 6, nowrap): same input, same
    * sizes — but the exact byte count is a zlib implementation detail,
    * so this face is SPEC-pinned by ordering/bounds rather than
    * DuckDB-oracled (no zlib on the oracle side). Scale shape: zero
    * shuffle — one typed mapPartitions with a per-partition reused
    * Deflater and doc-bounded buffers (the per-row statistic discipline;
    * an empty/null doc reports ratio 1e6, neutral to both gates). */
  def compressionProfile(df: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(F.col(idCol).cast("long"), F.col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater =
          new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          val raw =
            if (text == null) Array.emptyByteArray else text.getBytes("UTF-8")
          if (raw.length == 0) (id, 0L, 0L, 1000000L)  // skip deflate: even
          else {                // empty input emits a 2-byte final block
            deflater.reset()
            deflater.setInput(raw)
            deflater.finish()
            var comp = 0L
            while (!deflater.finished()) comp += deflater.deflate(buf)
            (id, raw.length.toLong, comp, comp * 1000000L / raw.length)
          }
        }
      }.toDF(idCol, "raw_bytes", "comp_bytes", "ratio_ppm")
  }

  /** Vocabulary-growth curve (Heaps'-law audit) — the crawl-valuation
    * report over a corpus treated as `batches` ingest slices (slice =
    * md5-bucket of the doc id, a deterministic stand-in for arrival
    * batches): per slice, how many DISTINCT tokens appear for the first
    * time (`new_tokens`), the slice's total token volume, the running
    * vocabulary size, and each slice's share of the final vocabulary.
    * A flattening curve says additional similar data stops buying new
    * vocabulary — the corpus-internal counterpart of q165's
    * new-corpus-vs-base novelty probe.
    *
    * Scale shape: one token explode into a vocabulary-keyed `min(batch)`
    * aggregate (the §1 gram-exchange family — shuffle volume is the
    * distinct-token list, map-side combined), then everything downstream
    * runs on ≤`batches` rows (the cumulative sum is a tiny triangular
    * self-join, not a single-partition window). */
  def vocabularyGrowth(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String,
                       batches: Int = 10): org.apache.spark.sql.DataFrame = {
    require(batches >= 2, s"batches must be >= 2, got $batches")
    val bucket = graft.plans.Expressions.md5Bucket(
      F.col(idCol).cast("string"), batches.toLong)
    val perBatch = df
      .select(bucket.as("__b"),
        F.explode(F.array_distinct(tokens(F.col(textCol)))).as("__t"))
      .groupBy("__t").agg(F.min("__b").as("batch"))
      .groupBy("batch").agg(F.count(F.lit(1)).as("new_tokens"))
    val occ = df.select(bucket.as("batch"), tokenCount(F.col(textCol)).as("__c"))
      .groupBy("batch").agg(F.sum(F.col("__c").cast("long")).as("batch_tokens"))
    val base = df.sparkSession.range(batches).select(F.col("id").as("batch"))
    val joined = Lineage.cut(base
      .join(perBatch, Seq("batch"), "left").na.fill(0L, Seq("new_tokens"))
      .join(occ, Seq("batch"), "left").na.fill(0L, Seq("batch_tokens")))
    val rhs = joined.select(F.col("batch").as("__b2"),
      F.col("new_tokens").as("__nt2"))
    val totals = joined.agg(F.sum("new_tokens").as("__tv"))
    joined.join(rhs, F.col("__b2") <= F.col("batch"))
      .groupBy("batch", "new_tokens", "batch_tokens")
      .agg(F.sum("__nt2").as("cum_vocab"))
      .crossJoin(F.broadcast(totals))
      .withColumn("new_ppm", F.expr(
        """CAST(CAST(new_tokens AS DECIMAL(38,0)) * 1000000
               DIV greatest(__tv, 1L) AS BIGINT)"""))
      .select("batch", "new_tokens", "batch_tokens", "cum_vocab", "new_ppm")
  }

  /** Per-source unigram concentration (Simpson index) — the LOG-FREE
    * lexical-diversity quality signal: per source,
    * `simpson_ppm = Σ c_w² · 1e6 DIV n²` (the probability two random
    * tokens are the same word — high = templated/spammy text) and its
    * inverse `eff_vocab = n² DIV Σ c_w²` (the "effective vocabulary":
    * how many equally-frequent words would produce this concentration).
    * Shannon entropy says the same thing through `ln` — which no two
    * libms compute bit-identically, so it can never oracle cell-exact;
    * Simpson is pure integer arithmetic and does (the q108 no-libm
    * discipline). A source whose eff_vocab collapses against its peers
    * is the boilerplate/SEO-spam finding.
    *
    * Scale shape: tokenize in the scan stage, ONE map-side-combined
    * (source, word) count, then a per-source aggregate whose c² sum
    * runs through DECIMAL(38,0) (a 1e12-token source's Σc² reaches
    * ~1e24 when concentrated — far past BIGINT, inside DECIMAL's
    * range); the output is |sources| rows. */
  def unigramConcentration(df: org.apache.spark.sql.DataFrame,
                           srcCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    df.where(F.col(textCol).isNotNull)
      .select(F.col(srcCol).as("source"),
        F.explode(tokens(F.col(textCol))).as("__w"))
      .groupBy("source", "__w").agg(F.count(F.lit(1)).as("__c"))
      .groupBy("source")
      .agg(F.count(F.lit(1)).as("vocab"),
        F.sum("__c").as("n_tokens"),
        F.sum(F.expr("CAST(__c AS DECIMAL(38,0)) * __c")).as("__c2"))
      .withColumn("simpson_ppm", F.expr(
        """CAST(__c2 * 1000000 DIV
               greatest(CAST(n_tokens AS DECIMAL(38,0)) * n_tokens,
                        CAST(1 AS DECIMAL(38,0))) AS BIGINT)"""))
      .withColumn("eff_vocab", F.expr(
        """CAST(CAST(n_tokens AS DECIMAL(38,0)) * n_tokens DIV
               greatest(__c2, CAST(1 AS DECIMAL(38,0))) AS BIGINT)"""))
      .select("source", "n_tokens", "vocab", "simpson_ppm", "eff_vocab")
}
