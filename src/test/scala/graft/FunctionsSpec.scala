package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._
import scala.jdk.CollectionConverters._

/** Extension-operator tests: text analysis, dedup, similarity, multimodal
  * plumbing — deterministic micro-fixtures with hand-checked expectations. */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("text analysis signals") {
    val df = Seq((1L, "The quick brown fox the END 42!")).toDF("id", "text")
    val r = df.select(
      Text.tokenCount($"text").as("nt"),
      Text.distinctTokenCount(F.lower($"text")).as("nd"),
      Text.digitCount($"text").as("dig"),
      Text.punctCount($"text").as("punct"),
      Text.qualityKeep($"text").as("keep")).head()
    assert(r.getInt(0) == 7)
    assert(r.getInt(1) == 6)   // "the" twice after lowering
    assert(r.getLong(2) == 2L)
    assert(r.getLong(3) == 1L)
    assert(r.getBoolean(4))
  }

  test("langIdGuess picks marker-heavy language, ties break to first code") {
    val df = Seq(
      (1L, "the cat and the dog"),
      (2L, "der hund und die katze ist"),
      (3L, "zzz qqq www")).toDF("id", "text") // no markers → tie → 'de'
    val out = df.select($"id", Text.langIdGuess($"text").as("lang"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "de")
  }

  test("fingerprints: md5 normalization and rolling order-sensitivity") {
    val df = Seq(("a b c", "  A   b C ", "c b a")).toDF("t1", "t2", "t3")
    val r = df.select(
      Text.fingerprintMd5($"t1") === Text.fingerprintMd5($"t2"),
      Text.fingerprintRolling($"t1") === Text.fingerprintRolling($"t3")).head()
    assert(r.getBoolean(0))   // normalization: same fingerprint
    assert(!r.getBoolean(1))  // rolling hash is order-sensitive
  }

  test("squeezeWs matches regexp_replace(trim(x), '\\s+', ' ') byte-for-byte") {
    val rnd = new scala.util.Random(11)
    val pieces = Seq(" ", "\t", "\n", "", "\f", "\r", "a", "Bc", "déjà", "日本", "x y")
    val cases = (1 to 300).map { _ =>
      (0 until rnd.nextInt(12)).map(_ => pieces(rnd.nextInt(pieces.length))).mkString
    } ++ Seq("", " ", "\n", "  a  ", "\ta\t", "a", " \n a \n ")
    val df = cases.toDF("t")
    val bad = df.select(
        F.col("t"),
        graft.plans.Expressions.squeezeWhitespace(F.col("t")).as("fast"),
        F.regexp_replace(F.trim(F.col("t")), "\\s+", " ").as("ref"))
      .where(F.col("fast") =!= F.col("ref"))
      .collect()
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }

  test("repetitionSignals: native expression matches the interpreted Column spelling") {
    val rnd = new scala.util.Random(17)
    val vocab = Seq("the", "cat", "and", "dog", "der", "und", "zzz", "a", "b",
      "c", "spam", "spam", "spam") // repeats bias toward repeated 3-grams
    val cases = (1 to 200).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(" "))
    } ++ Seq((900L, ""), (901L, "one two"), (902L, "x x x x x x x x"),
      (903L, "THE The the AND and"))
    val df = cases.toDF("id", "text")
    val bad = df.select(
        $"id",
        Text.repetitionSignals($"text").as("fast"),
        Text.repetitionSignalsColumns($"text").as("ref"))
      .where($"fast" =!= $"ref")
      .collect()
    assert(bad.isEmpty, bad.take(3).mkString("; "))

    // SQL face: registered function agrees with the Column constructor
    graft.plans.GraftFunctions.register(spark)
    df.createOrReplaceTempView("repsig_docs")
    val viaSql = spark.sql(
      """SELECT id, repetition_signals(filter(split(text, ' '), x -> x != ''), 3) AS s
         FROM repsig_docs""").collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    val viaCol = df.select($"id", Text.repetitionSignals($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(viaSql == viaCol)
  }

  test("rhpBucket: native expression matches the interpreted Column spelling") {
    val rnd = new scala.util.Random(23)
    val dim = 16
    val rows = (1 to 150).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f).toSeq)
    }
    val df = rows.toDF("id", "emb")
    for (nBits <- Seq(1, 8, 17)) {
      val bad = df.select(
          $"id",
          Similarity.rhpBucket($"emb", dim, nBits).as("fast"),
          Similarity.rhpBucketColumns($"emb", dim, nBits).as("ref"))
        .where($"fast" =!= $"ref")
        .collect()
      assert(bad.isEmpty, s"nBits=$nBits: " + bad.take(3).mkString("; "))
    }
    // malformed input (wrong length) → null, not junk
    val short = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "emb")
      .select(Similarity.rhpBucket($"emb", dim, 8).as("b")).head()
    assert(short.isNullAt(0))
    // SQL face
    graft.plans.GraftFunctions.register(spark)
    df.createOrReplaceTempView("rhp_embs")
    val viaSql = spark.sql(s"SELECT id, rhp_bucket(emb, $dim, 8) AS b FROM rhp_embs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCol = df.select($"id", Similarity.rhpBucket($"emb", dim, 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaCol)
  }

  test("exact dedup groups and keep-one filter") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val groups = Dedup.exactDupGroups(df, "doc_id", "text")
      .as[(String, Long, Long)].collect().map { case (_, id, n) => (id, n) }.toSet
    assert(groups == Set((1L, 2L), (3L, 1L)))
    val kept = Dedup.dropExactDups(df, "doc_id", "text").as[(Long, String)]
      .collect().map(_._1).toSet
    assert(kept == Set(1L, 3L))
  }

  test("decontaminate drops corpus docs sharing any n-gram with the eval set") {
    val eval = Seq((100L, "the capital of france is paris")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "my trip to the capital of france was great"), // shares "the capital of"
      (2L, "paris is a city in europe"),                  // words overlap, no 3-gram
      (3L, "nothing related here at all"),
      (4L, "hi")                                          // < 3 tokens: no n-grams
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, "doc_id", "text", eval, "text", 3)
      .as[(Long, String)].collect().map(_._1).toSet
    assert(kept == Set(2L, 3L, 4L))
  }

  test("minhash/LSH finds near-duplicates, jaccard verifies") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val far = "completely different words in this one nothing shared at all here ok"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(df, "doc_id", "text",
        k = 2, numHashes = 8, rowsPerBand = 2, threshold = 0.3)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 > 0.5)
  }

  test("LSH degenerate buckets: short docs never bucket; oversize buckets drop with a count") {
    // 10k sub-k-token docs — before the guard these all hashed to the
    // identical empty-shingle signature and formed ONE mega-bucket
    // (quadratic pair blowup / executor OOM); now their null signatures
    // carry null bands and bucketing skips them entirely
    val shorts = (1L to 10000L).map(i => (i, "word")).toDF("doc_id", "text")
    val banded = Dedup.lshBands(
      Dedup.minhashSignature(shorts, "text", k = 3, numHashes = 8), 8, 2)
    assert(Dedup.lshCandidatePairs(banded, "doc_id", 4).count() == 0L)

    // identical LONG docs DO share buckets — the cap drops the bucket with
    // a logged count instead of expanding ~n²/2 pairs
    val dups = (1L to 50L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val bandedDups = Dedup.lshBands(
      Dedup.minhashSignature(dups, "text", k = 3, numHashes = 8), 8, 2)
    val capped = Dedup.lshCandidatePairs(bandedDups, "doc_id", 4, maxBucketSize = 10)
    assert(capped.count() == 0L)
    val uncapped = Dedup.lshCandidatePairs(bandedDups, "doc_id", 4)
    assert(uncapped.count() == 50L * 49L / 2L)
  }

  test("simhashNearPairs: banding matches brute-force hamming truth; cap drops identical floods") {
    // 12 docs around two templates + noise; brute-force all-pairs hamming
    // over the same portable signature is the ground truth the pigeonhole
    // banding must reproduce exactly
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "alpha beta gamma delta epsilon zeta eta iota",
      "alpha beta gamma delta epsilon zeta mu theta",
      "one two three four five six seven eight",
      "one two three four five six seven nine",
      "totally different content here nothing shared",
      "yet another unrelated document body text",
      "alpha beta gamma delta epsilon zeta eta theta extra",
      "one two three four five six ten eight",
      "mixed alpha two gamma four epsilon six",
      "short words",
      "alpha beta gamma delta epsilon zeta eta theta")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Dedup.simhashNearPairs(df, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    val sigs = df.select($"doc_id", Dedup.simhashPortable($"text").as("s"))
      .as[(Long, Long)].collect()
    val truth = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == truth)
    assert(truth.exists(_._3 == 0L)) // the planted identical pair is in there
    // a flood of identical docs: every band bucket exceeds the cap, pairs
    // drop counted instead of expanding quadratically
    val flood = (1L to 50L).map(i => (i, "same text every single time")).toDF("doc_id", "text")
    assert(Dedup.simhashNearPairs(flood, "doc_id", "text", 3, maxBucketSize = 10).count() == 0L)
  }

  test("contentNovelty: first doc fully novel, exact copy fully stale, overlap partial") {
    val df = Seq(
      (1L, "a b c d"),     // grams: "a b c","b c d" — both first here
      (2L, "a b c d"),     // exact copy: novelty 0
      (3L, "b c d e f")    // "b c d" seen; "c d e","d e f" novel -> 2/3
    ).toDF("doc_id", "text")
    val got = Dedup.contentNovelty(df, "doc_id", "text", k = 3)
      .select($"doc_id", $"n_grams", $"n_novel", $"novelty_ppm")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 1000000L),
      (2L, 2L, 0L, 0L),
      (3L, 3L, 2L, 666666L)))
    // sub-k-token docs are absent, not zero-novelty rows
    val short = Seq((1L, "x y")).toDF("doc_id", "text")
    assert(Dedup.contentNovelty(short, "doc_id", "text", k = 3).count() == 0L)
  }

  test("bpePretokenize: contractions, digit runs, symbol runs, empty input") {
    val rows = Seq(
      """{"a": 12, "b": "don't stop"}""",
      "hello world",
      "x=3.14;y=42",
      "").toDF("text")
      .select(Text.bpePretokenize($"text").as("t"))
      .as[Seq[String]].collect()
    assert(rows(0) == Seq("{\"", "a", "\":", "12", ",", "\"", "b", "\":",
      "\"", "don", "'t", "stop", "\"}"))
    assert(rows(1) == Seq("hello", "world"))
    assert(rows(2) == Seq("x", "=", "3", ".", "14", ";", "y", "=", "42"))
    assert(rows(3) == Seq.empty)
  }

  test("minhashCalibration: identical pair pins the top level; levels internally consistent") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq(
      (1L, base), (2L, base),                      // identical: agree=8, J=1
      (3L, base.replace("today", "tomorrow")),     // near
      (4L, "completely different words in this one nothing shared at all here")
    ).toDF("doc_id", "text")
    val rows = Dedup.minhashCalibration(df, "doc_id", "text",
        k = 2, numHashes = 8, rowsPerBand = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    val top = rows(8L)
    assert(top._1 == 1000000L)           // est_ppm at full agreement
    assert(top._3 == 1000000L && top._4 == 1000000L && top._5 == 1000000L)
    rows.foreach { case (agree, (est, n, mean, mn, mx)) =>
      assert(est == agree * 1000000L / 8L)
      assert(n > 0L && mn <= mean && mean <= mx)
    }
  }

  test("pairSetAgreement: orientation-normalized set arithmetic; empty edge") {
    val l = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val r = Seq((2L, 1L), (4L, 3L), (7L, 8L)).toDF("a", "b") // two shared, flipped
    val row = Dedup.pairSetAgreement(l, r).head()
    assert(row.getLong(0) == 3L && row.getLong(1) == 3L && row.getLong(2) == 2L)
    assert(row.getLong(3) == 500000L) // 2 of 4 distinct pairs
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val e = Dedup.pairSetAgreement(empty, empty).head()
    assert(e.isNullAt(3)) // no pairs at all -> NULL, not div-by-zero
  }

  test("winnowing: native == Column spec; overlap guarantee; candidates find the planted overlap") {
    // parity: native single-pass expression vs the transform/slice spelling,
    // across doc shapes (short of k, exactly k, fewer grams than w, long)
    val rnd = new scala.util.Random(17)
    val texts = Seq("", "a b c", "a b c d", "a b c d e f g") ++
      Vector.fill(40)(Vector.fill(1 + rnd.nextInt(30))(
        ('a' + rnd.nextInt(5)).toChar.toString).mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val both = df.select(
      Dedup.winnowFingerprints($"text", 4, 4).as("nat"),
      Dedup.winnowFingerprintsColumns($"text", 4, 4).as("col"))
      .collect()
    both.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getSeq[String](0) == r.getSeq[String](1))
    }

    // the winnowing guarantee: two docs sharing a token run of
    // >= w + k - 1 = 7 tokens share at least one fingerprint
    val shared = "one two three four five six seven"
    val docA = s"alpha beta $shared gamma delta"
    val docB = s"zeta eta theta $shared iota"
    val docC = "nothing in common with those at all ok then"
    val fps = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
      .select($"doc_id", F.explode(Dedup.winnowFingerprints($"text", 4, 4)).as("fp"))
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    assert((fps(1L) intersect fps(3L)).isEmpty)

    // candidate pairs: planted overlap found with its shared count; the
    // boilerplate cap drops a fingerprint common to too many docs
    val corpus = Seq((1L, docA), (2L, docB), (3L, docC)) ++
      (10L to 30L).map(i => (i, s"common boiler plate header row $i"))
    val cands = Dedup.winnowOverlapCandidates(corpus.toDF("doc_id", "text"),
        "doc_id", "text", k = 4, w = 4, minShared = 1L, maxBucketSize = 10)
      .as[(Long, Long, Long)].collect()
    assert(cands.map(c => (c._1, c._2)).contains((1L, 2L)))
    // the 21 boilerplate docs share "common boiler plate header" (+ window
    // variants) — bucket size 21 > cap 10, so no pair among them survives
    assert(!cands.exists { c => c._1 >= 10L && c._2 >= 10L })
    assert(Dedup.winnowOversizeBuckets(corpus.toDF("doc_id", "text"),
      "doc_id", "text", k = 4, w = 4, maxBucketSize = 10).count() > 0L)
  }

  test("containmentPairs finds quote-inclusion that symmetric Jaccard misses") {
    // a 8-token doc quoted whole inside a 40-token doc: containment of the
    // short side = 1.0 while Jaccard ~ 5/38 — the asymmetric-dup shape
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 32).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, quote),                       // the contained doc
      (2L, s"$filler $quote"),           // the container
      (3L, "totally unrelated words here nothing shared at all right"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "doc_id", "text",
        k = 4, w = 4, minShared = 1L, maxBucketSize = 100,
        minContainmentPpm = 900000L)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(pairs.length == 1)
    val (a, b, nCommon, nA, nB, ppm) = pairs.head
    assert((a, b) == (1L, 2L))
    assert(nA == 5L && nCommon == 5L) // all 5 of the quote's 4-grams shared
    assert(nB == 37L)                 // container: 40 tokens -> 37 grams
    assert(ppm == 1000000L)           // fully contained
    // symmetric Jaccard on the same pair is far below any dedup threshold
    assert(nCommon.toDouble / (nA + nB - nCommon) < 0.2)

    // below-threshold containment filtered out
    assert(Dedup.containmentPairs(docs, "doc_id", "text",
      k = 4, w = 4, minShared = 1L, maxBucketSize = 100,
      minContainmentPpm = 1000001L).count() == 0L)
  }

  test("weightedBernoulliSample: per-row rate, deterministic, clamped") {
    val df = (0L until 200L).map(i => (i, i * 5000L)).toDF("id", "w")
    // weight 0 keeps nothing even when hash lands at 0
    assert(Sampling.weightedBernoulliSample(df.where($"w" === 0L), $"id", $"w")
      .count() == 0L)
    // weight >= 1e6 keeps everything (clamp, not overflow)
    assert(Sampling.weightedBernoulliSample(df, $"id", F.lit(Long.MaxValue))
      .count() == 200L)
    // per-row: kept set is exactly the rows whose hash bucket < own weight
    val kept = Sampling.weightedBernoulliSample(df, $"id", $"w")
      .select("id").as[Long].collect().toSet
    val expect = df.select($"id", Sampling.hashBucket($"id").as("h"), $"w")
      .as[(Long, Long, Long)].collect()
      .filter { case (_, h, w) => h < math.min(w, 1000000L) }.map(_._1).toSet
    assert(kept == expect && kept.nonEmpty && kept.size < 200)
    // determinism: identical on re-run
    assert(Sampling.weightedBernoulliSample(df, $"id", $"w")
      .select("id").as[Long].collect().toSet == kept)
  }

  test("invertedIndex: exact df, bounded ascending postings, cap flagged") {
    val docs = ((1L to 12L).map(i => (i, s"common unique$i")) :+
      (20L, "common common repeated-inside-one-doc")).toDF("doc_id", "text")
    val idx = Text.invertedIndex(docs, "doc_id", "text", maxPostings = 8)
      .as[(String, Long, String, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // 'common' in 13 docs (distinct per doc, even where it repeats):
    // df exact, postings = first 8 ids ascending, truncated
    assert(idx("common") == ((13L, (1L to 8L).mkString(","), true)))
    // a singleton term: full postings, not truncated
    assert(idx("unique7") == ((1L, "7", false)))
    assert(idx("repeated-inside-one-doc")._1 == 1L)
  }

  test("cmsSketch/cmsEstimate: bounded cells, upper-bound property even under heavy collision") {
    val rnd = new scala.util.Random(23)
    val keys = Vector.fill(500)(s"k${rnd.nextInt(40)}")
    val df = keys.map(Tuple1(_)).toDF("k")
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for ((width, depth) <- Seq((64, 4), (2, 2))) { // (2,2): collisions guaranteed
      val sketch = Scale.cmsSketch(df, $"k", width, depth)
      assert(sketch.count() <= width.toLong * depth) // bounded state
      // every cell count is the sum of its colliding keys' true counts
      assert(sketch.agg(F.sum("c")).head.getLong(0) == keys.size.toLong * depth)
      val est = Scale.cmsEstimate(sketch, df.distinct(), "k", width, depth)
        .as[(String, Long)].collect().toMap
      assert(est.keySet == exact.keySet)
      exact.foreach { case (k, n) => assert(est(k) >= n, s"CMS under-counted $k") }
    }
    // wide sketch with few keys: most estimates exact
    val wide = Scale.cmsEstimate(
      Scale.cmsSketch(df, $"k", 4096, 4), df.distinct(), "k", 4096, 4)
      .as[(String, Long)].collect().toMap
    assert(wide == exact)
  }

  test("fuzzyDupPairs: deletion blocking is complete vs brute-force lev<=1 on random strings") {
    val rnd = new scala.util.Random(41)
    // short random strings over a tiny alphabet force every edit shape:
    // substitutions, inserts, deletes, duplicates-after-distinct, empties
    val vals = Vector.fill(120)(
      Vector.fill(rnd.nextInt(6))(('a' + rnd.nextInt(3)).toChar).mkString)
    val df = vals.map(Tuple1(_)).toDF("s")
    val got = Dedup.fuzzyDupPairs(df, "s", maxDist = 1)
      .as[(String, String, Long)].collect().toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val distinct = vals.distinct
    val expect = (for {
      a <- distinct; b <- distinct if a < b
      d = lev(a, b) if d <= 1
    } yield (a, b, d.toLong)).toSet
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
    assert(expect.nonEmpty) // the fixture actually exercises pairs
  }

  test("tokenBudgetMix: under-budget sources keep everything, over-budget lands near target") {
    val rnd = new scala.util.Random(7)
    def doc(i: Long, src: String, nTok: Int) =
      (i, src, Vector.fill(nTok)(s"w${rnd.nextInt(50)}").mkString(" "))
    // 'big': 400 docs x 10 tokens = 4000; 'small': 5 docs x 10 = 50 tokens
    val docs = ((1L to 400L).map(i => doc(i, "big", 10)) ++
      (1001L to 1005L).map(i => doc(i, "small", 10))).toDF("id", "source", "text")
    val kept = Sampling.tokenBudgetMix(docs, $"id", "text", "source",
      targetTokens = Map("big" -> 1000L), defaultTarget = 100L)
    val bySrc = kept.groupBy("source")
      .agg(F.sum(Text.tokenCount($"text").cast("long")).as("t"),
        F.count(F.lit(1)).as("n"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // small is under its 100-token target: all 5 docs survive
    assert(bySrc("small") == ((50L, 5L)))
    // big: rate = 1000/4000 -> ~100 of 400 docs, ~1000 tokens (hash noise)
    val (bigTok, bigN) = bySrc("big")
    assert(bigN > 60 && bigN < 140, s"kept $bigN of 400")
    assert(bigTok == bigN * 10)
    // deterministic: the same mix on re-run
    val again = Sampling.tokenBudgetMix(docs, $"id", "text", "source",
      targetTokens = Map("big" -> 1000L), defaultTarget = 100L)
      .select("id").as[Long].collect().toSet
    assert(again == kept.select("id").as[Long].collect().toSet)
  }

  test("winnowing: native expression matches a brute-force Scala reference on random docs") {
    // independent third implementation (the Column spelling shares Spark's
    // md5/array_min; this one shares nothing with the engine)
    def refWinnow(tokens: Seq[String], k: Int, w: Int): Option[Seq[String]] = {
      if (tokens.length < k) return None
      val md = java.security.MessageDigest.getInstance("MD5")
      def md5hex(s: String): String =
        md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val hs = tokens.sliding(k).map(g => md5hex(g.mkString(" "))).toVector
      val sel =
        if (hs.length <= w) Set(hs.min)
        else hs.sliding(w).map(_.min).toSet
      Some(sel.toSeq.sorted)
    }
    val rnd = new scala.util.Random(29)
    for (_ <- 1 to 3; (k, w) <- Seq((3, 4), (4, 4), (2, 6))) {
      val docs = Vector.fill(30)(Vector.fill(rnd.nextInt(25))(
        ('a' + rnd.nextInt(4)).toChar.toString).mkString(" "))
      val got = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .select($"id", Dedup.winnowFingerprints($"text", k, w).as("fps"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getSeq[String](1).toSeq))).toMap
      docs.zipWithIndex.foreach { case (t, i) =>
        val want = refWinnow(t.split(" ").filter(_.nonEmpty).toSeq, k, w)
        assert(got(i.toLong) == want, s"doc $i k=$k w=$w: '$t'")
      }
    }
  }

  test("simhash: identical docs match, near docs within small hamming distance") {
    val df = Seq(
      ("a b c d e f g h", "a b c d e f g h", "a b c d e f g zz"))
      .toDF("t1", "t2", "t3")
    val r = df.select(
      Dedup.hamming64(Dedup.simhash64($"t1"), Dedup.simhash64($"t2")),
      Dedup.hamming64(Dedup.simhash64($"t1"), Dedup.simhash64($"t3"))).head()
    assert(r.getLong(0) == 0L)
    assert(r.getLong(1) > 0L && r.getLong(1) <= 32L)
  }

  test("cosine brute force and IVF agree on top-k for a clustered fixture") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.1f, 0.9f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val q = Seq(1.0, 0.05, 0.0)
    val brute = Similarity.bruteForceTopK(vecs, "embedding", "vec_id", q, 2)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(brute == Seq(0L, 1L))
    val centroids = vecs.where($"vec_id".isin(0L, 2L, 4L))
    val assigned = Similarity.ivfAssign(vecs, "embedding", "vec_id",
        centroids, "vec_id", "embedding")
      .select("vec_id", "cell")
      .join(vecs, "vec_id")
    val cellOf = assigned.select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(cellOf(1L) == 0L && cellOf(3L) == 2L)
    val ivf = Similarity.ivfTopK(assigned, "embedding", "vec_id",
        centroids, "vec_id", "embedding", q, 2, nProbe = 1)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(ivf == Seq(0L, 1L)) // query lands in cell 0 = {0,1}
  }

  test("kmeans centroids converge on a clustered fixture; annSearch finds the cluster") {
    // clusters interleaved by id parity so the first-k seeds span both
    val vecs = (0 until 20).map { i =>
      if (i % 2 == 0) (i.toLong, Array(1.0f + i * 0.01f, 0.1f + i * 0.002f, 0.0f))
      else (i.toLong, Array(0.1f + i * 0.002f, 1.0f + i * 0.01f, 0.0f))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, "embedding", "vec_id", k = 2, iters = 3)
    val assigned = Similarity.ivfAssign(vecs, "embedding", "vec_id", cents, "cell", "cvec")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    // the two geometric clusters end up in two distinct cells
    val xCells = (0L until 20L by 2).map(assigned).toSet
    val yCells = (1L until 20L by 2).map(assigned).toSet
    assert(xCells.size == 1 && yCells.size == 1 && xCells != yCells)

    val hits = Similarity.annSearch(vecs, "embedding", "vec_id",
        k = 3, nCells = 2, kmeansIters = 2, query = Seq(1.0, 0.1, 0.0), nProbe = 1)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(hits.subsetOf((0L until 20L by 2).toSet))
  }

  test("kmeans centroid lineage stays flat across iterations (per-iteration cut)") {
    val vecs = (0 until 20).map { i =>
      if (i % 2 == 0) (i.toLong, Array(1.0f + i * 0.01f, 0.1f + i * 0.002f, 0.0f))
      else (i.toLong, Array(0.1f + i * 0.002f, 1.0f + i * 0.01f, 0.0f))
    }.toDF("vec_id", "embedding")
    def treeSize(iters: Int): Int =
      Similarity.kmeansCentroids(vecs, "embedding", "vec_id", k = 2, iters = iters)
        .queryExecution.analyzed.collect { case p => p }.size
    // without the cut the analyzed plan grows by the whole assign+recenter
    // subtree per iteration; with it, 25 iterations end at the SAME
    // checkpoint-scan-rooted plan as 2
    assert(treeSize(25) == treeSize(2))
  }

  test("multimodal plumbing: payload meta, frame offsets, stubbed decode") {
    val df = Seq((1L, "abcd" * 100)).toDF("doc_id", "text")
      .select($"doc_id", Multimodal.fakePayload($"text").as("payload"))
    val withMeta = Multimodal.withMeta(df, "payload", "text/fake")
    val meta = withMeta.select("meta.n_bytes", "meta.media_type").head()
    assert(meta.getLong(0) == 400L && meta.getString(1) == "text/fake")

    val frames = withMeta.select(
      Multimodal.frameOffsets($"payload", frameBytes = 256, maxFrames = 10).as("fr"))
      .select(F.size($"fr")).head().getInt(0)
    assert(frames == 2) // 400 bytes / 256 → 2 frames

    val feats = Multimodal.decodeFeatures(withMeta, "payload")
    val r = feats.select("n_bytes", "sum_bytes", "first_byte").head()
    assert(r.getLong(0) == 400L)
    assert(r.getLong(1) == 100L * ('a' + 'b' + 'c' + 'd'))
    assert(r.getInt(2) == 'a'.toInt)
  }

  test("ImageIO codec decodes a real PNG payload to true dimensions via the SPI") {
    // build a real 6×4 PNG in memory: left half red, right half blue
    val img = new java.awt.image.BufferedImage(6, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 6)
      img.setRGB(x, y, if (x < 3) 0xff0000 else 0x0000ff)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val png = buf.toByteArray

    val df = Seq((1L, png), (2L, "not an image".getBytes("UTF-8")))
      .toDF("id", "payload")
    val out = Multimodal.decodeWith(df, "payload", Multimodal.ImageIOCodec, featDim = 4)
      .select("id", "codec", "width", "height", "n_channels", "feature")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "imageio")
    assert(out(1L).getInt(2) == 6 && out(1L).getInt(3) == 4)
    assert(out(1L).getInt(4) == 3)
    val feat = out(1L).getSeq[Float](5)
    assert(math.abs(feat.sum - 1.0f) < 1e-5)   // histogram normalizes
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(2))  // undecodable → nulls

    // the stub codec answers the same SPI (what the container default uses)
    val stub = Multimodal.decodeWith(df, "payload", Multimodal.StubCodec, featDim = 4)
      .select("codec").distinct().collect().map(_.getString(0)).toSet
    assert(stub == Set("stub"))
  }

  test("WAV codec decodes a real generated WAV to sample rate/duration via the SPI") {
    // build a real 16-bit mono PCM WAV in memory: 8000 Hz, 0.5 s, 440 Hz sine
    val rate = 8000
    val nSamples = rate / 2
    val pcm = new Array[Byte](nSamples * 2)
    for (i <- 0 until nSamples) {
      val s = (math.sin(2 * math.Pi * 440 * i / rate) * 16000).toInt.toShort
      pcm(2 * i) = (s & 0xff).toByte       // little-endian
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    val wav = buf.toByteArray

    val df = Seq((1L, wav), (2L, "not audio".getBytes("UTF-8"))).toDF("id", "payload")
    val out = Multimodal.decodeWith(df, "payload", Multimodal.WavCodec, featDim = 4)
      .select("id", "codec", "width", "height", "n_channels", "feature")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "wav")
    assert(out(1L).getInt(2) == 8000)      // sample rate
    assert(out(1L).getInt(3) == 500)       // duration ms
    assert(out(1L).getInt(4) == 1)         // mono
    val feat = out(1L).getSeq[Float](5)
    assert(math.abs(feat.sum - 1.0f) < 1e-5)  // histogram normalizes
    // a 0.5-amplitude sine never reaches the top amplitude bucket
    assert(feat(3) == 0f && feat(0) > 0f)
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(2))  // undecodable → nulls
  }

  test("WAV codec honors sample encoding: signed-8-bit silence lands in the bottom bucket") {
    // 8-bit PCM_SIGNED (the AIFF convention): silence is byte 0x00 — an
    // unsigned interpretation would read it as amplitude 1.0 (top bucket)
    val rate = 8000
    val pcm = new Array[Byte](rate / 4) // 0.25s of signed silence
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 8, 1, true, false)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, pcm.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.AIFF, buf)
    val df = Seq((1L, buf.toByteArray)).toDF("id", "payload")
    val feat = Multimodal.decodeWith(df, "payload", Multimodal.WavCodec, featDim = 4)
      .select("feature").head().getSeq[Float](0)
    assert(feat(0) == 1.0f && feat(3) == 0f,
      s"signed silence must fill the bottom amplitude bucket, got $feat")
  }

  test("Y4M codec decodes a real generated video to dimensions/frames via the SPI") {
    // build a real YUV4MPEG2 stream in memory: 4x2 C420, 3 frames whose Y
    // planes are constant 0 / 128 / 255 — one luma bucket hit per frame
    val w = 4; val h = 2
    val buf = new java.io.ByteArrayOutputStream()
    buf.write("YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C420jpeg\n".getBytes("US-ASCII"))
    for (luma <- Seq(0, 128, 255)) {
      buf.write("FRAME\n".getBytes("US-ASCII"))
      buf.write(Array.fill(w * h)(luma.toByte))       // Y plane
      buf.write(Array.fill(2 * (w / 2) * (h / 2))(64.toByte)) // U + V planes
    }
    val y4m = buf.toByteArray

    val df = Seq((1L, y4m), (2L, "not video".getBytes("UTF-8"))).toDF("id", "payload")
    val out = Multimodal.decodeWith(df, "payload", Multimodal.Y4mCodec, featDim = 4)
      .select("id", "codec", "width", "height", "n_channels", "feature")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "y4m")
    assert(out(1L).getInt(2) == 4 && out(1L).getInt(3) == 2)
    assert(out(1L).getInt(4) == 3)
    // 3 frames × 8 px each, one frame per bucket boundary: 0→b0, 128→b2, 255→b3
    val feat = out(1L).getSeq[Float](5)
    assert(feat == Seq(1f / 3, 0f, 1f / 3, 1f / 3))
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(2))  // undecodable → nulls

    // a truncated tail frame is ignored, completed frames still decode
    val cut = java.util.Arrays.copyOf(y4m, y4m.length - 5)
    val partial = Multimodal.decodeWith(
        Seq((1L, cut)).toDF("id", "payload"), "payload", Multimodal.Y4mCodec, featDim = 4)
      .select("feature").head().getSeq[Float](0)
    assert(partial == Seq(0.5f, 0f, 0.5f, 0f)) // only frames 1+2 counted
  }

  test("perceptualDupGroups video: re-containerized (framerate-retagged) Y4M clip dedups; different clip doesn't") {
    // 8x8 C420 clip whose Y plane is a left/right split (128 left, 16
    // right) — a non-uniform grid so the aHash bits are well off the
    // threshold; 2 frames
    def clip(left: Int, right: Int, header: String): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      buf.write(header.getBytes("US-ASCII"))
      for (_ <- 0 until 2) {
        buf.write("FRAME\n".getBytes("US-ASCII"))
        for (_ <- 0 until 8; x <- 0 until 8)
          buf.write(if (x < 4) left else right) // Y plane
        buf.write(Array.fill(2 * 4 * 4)(64.toByte)) // U + V planes
      }
      buf.toByteArray
    }
    // the "re-container": same planes, different header metadata
    // (framerate/aspect retag — what a remux does) -> different BYTES
    val a = clip(128, 16, "YUV4MPEG2 W8 H8 F25:1 Ip A1:1 C420jpeg\n")
    val aRemux = clip(128, 16, "YUV4MPEG2 W8 H8 F30:1 Ip A16:9 C420jpeg\n")
    val other = clip(16, 128, "YUV4MPEG2 W8 H8 F25:1 Ip A1:1 C420jpeg\n")
    assert(!java.util.Arrays.equals(a, aRemux))
    val df = Seq((1L, a), (2L, aRemux), (3L, other)).toDF("id", "payload")
    assert(Multimodal.binaryDupGroups(df, "id", "payload")
      .where($"n_copies" >= 2).count() == 0)
    val groups = Multimodal.perceptualDupGroups(df, "id", "payload",
      Multimodal.Y4mCodec).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("n_copies") == 2L)
    assert(groups(0).getAs[Long]("canonical_id") == 1L)
  }

  test("multimodal frame sampling and stubbed resize keep the batch contract") {
    val df = Seq((1L, "abcd" * 100)).toDF("doc_id", "text") // 400 bytes
      .select($"doc_id", Multimodal.fakePayload($"text").as("payload"))
    // 400/64 = 7 frames, stride 3 → indices 0,3,6
    val offs = df.select(F.explode(
        Multimodal.sampleFrames($"payload", frameBytes = 64, maxFrames = 10, stride = 3)).as("fr"))
      .select("fr.offset").as[Long].collect().toSeq
    assert(offs == Seq(0L, 192L, 384L))

    val resized = Multimodal.resizePayloads(df, "payload", factor = 4)
      .select("resized").head().getAs[Array[Byte]](0)
    assert(resized.length == 100)
    assert(resized.forall(_ == 'a'.toByte)) // every 4th byte of "abcd"*100
  }

  test("semanticDecontaminate: near-dup of an eval vector drops; zero-norm cosine (NaN) never matches") {
    import graft.functions.Similarity
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),   // identical to eval vector → dropped
      (2L, Array(0.9f, 0.1f)),   // cosine ~0.994 → dropped
      (3L, Array(0.0f, 1.0f)),   // orthogonal → survives
      (4L, Array(0.0f, 0.0f)))   // zero norm: cosine NaN → survives, no crash
      .toDF("vec_id", "embedding")
    val eval_ = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val survivors = Similarity.semanticDecontaminate(
        corpus, "vec_id", "embedding", eval_, "embedding", threshold = 0.9)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(3L, 4L))
  }

  test("bigramLmScore matches a brute-force reference; word salad scores below prose") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (3L, "the cat sat on the mat again"),
      (4L, "mat the on sat cat the"), // same unigrams as 1, shuffled
      (5L, "solo"))                   // <2 tokens: no bigram, drops out
    val got = graft.functions.Text.bigramLmScore(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    // brute force
    val toks = docs.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toSeq }
    val uni = toks.flatMap(_._2).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val bis = toks.flatMap { case (id, ws) => ws.zip(ws.drop(1)).map(id -> _) }
    val big = bis.groupBy(_._2).map { case (p, ps) => p -> ps.size.toLong }
    val v = uni.size.toLong
    val want = bis.groupBy(_._1).map { case (id, ps) =>
      val ppms = ps.map { case (_, p @ (w1, _)) => ((big(p) + 1) * 1000000L) / (uni(w1) + v) }
      id -> ((ppms.size.toLong, ppms.sum, ppms.sum / ppms.size))
    }
    assert(got == want)
    assert(!got.contains(5L))
    // the shuffled doc shares doc 1's unigram stats (rarityScore can't
    // separate them) but its transitions are rare → strictly lower score
    assert(got(4L)._3 < got(1L)._3)
  }

  test("fluencyBuckets: labels partition the scored docs monotonically by score") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (3L, "the cat sat on the mat again"),
      (4L, "mat the on sat cat the"),
      (5L, "a b c d e f g"),
      (6L, "the dog sat on the mat"),
      (7L, "solo")) // drops out of the LM score, must drop out here too
      .toDF("doc_id", "text")
    val rows = graft.functions.Text.fluencyBuckets(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
    // monotone partition: min(head) >= max(middle) >= ... (ties may share)
    for {
      h <- byBucket.get("head"); m <- byBucket.get("middle")
    } assert(h.min >= m.max)
    for {
      m <- byBucket.get("middle"); t <- byBucket.get("tail")
    } assert(m.min >= t.max)
    // tercile cutoffs: no bucket may hold more than half the docs here
    assert(byBucket.values.forall(_.length <= 3))
  }

  test("dsirWeights matches a brute-force reference on random corpora") {
    def bucket(f: String, buckets: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8"))
      val head = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      head % buckets
    }
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val buckets = Seq(16L, 64L, 256L)(trial - 1)
      // small alphabet → hash collisions in the bucketed space actually occur
      val docs = Vector.tabulate(40) { i =>
        (i.toLong, Vector.fill(rnd.nextInt(15))(
          ('a' + rnd.nextInt(6)).toChar.toString).mkString(" "))
      }
      val isTgt = docs.map { case (id, _) => id -> (rnd.nextInt(3) == 0) }.toMap
      val corpus = docs.map { case (id, t) =>
        (id, t, if (isTgt(id)) "tgt" else "other") }.toDF("doc_id", "text", "lab")
      val got = graft.functions.Sampling.dsirWeights(
          corpus, corpus.where($"lab" === "tgt"), "doc_id", "text", buckets)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

      val toks = docs.map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty).toSeq }
      def feats(ws: Seq[String]): Seq[Long] =
        (ws ++ ws.zip(ws.drop(1)).map { case (a, b) => s"$a $b" })
          .map(bucket(_, buckets))
      val tgt = toks.filter(t => isTgt(t._1)).flatMap(t => feats(t._2))
        .groupBy(identity).map { case (b, bs) => b -> bs.size.toLong }
      val src = toks.flatMap(t => feats(t._2))
        .groupBy(identity).map { case (b, bs) => b -> bs.size.toLong }
      val (nt, ns) = (tgt.values.sum, src.values.sum)
      val want = toks.filter(_._2.nonEmpty).map { case (id, ws) =>
        val ds = feats(ws).map(b =>
          ((tgt.getOrElse(b, 0L) + 1) * 1000000L) / (nt + buckets) -
          ((src(b) + 1) * 1000000L) / (ns + buckets))
        id -> ((ds.size.toLong, ds.sum))
      }.toMap
      assert(got == want, s"trial $trial buckets=$buckets")
    }
  }

  test("dsirWeights matches a brute-force reference; target-like docs score higher") {
    val corpus = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the cat sat on the mat", "en"),
      (3L, "the dog sat on the mat", "en"),
      (4L, "le chat est sur le tapis", "fr"),
      (5L, "le chien est sur le tapis", "fr"),
      (6L, "", "fr")).toDF("doc_id", "text", "lang")
    val buckets = 64L
    val got = graft.functions.Sampling.dsirWeights(
        corpus, corpus.where($"lang" === "en"), "doc_id", "text", buckets)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // brute force with the same md5 bucket hash
    def bucket(f: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8"))
      val head = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      head % buckets
    }
    val toks = Seq(
      1L -> "the cat sat on the mat", 2L -> "the cat sat on the mat",
      3L -> "the dog sat on the mat", 4L -> "le chat est sur le tapis",
      5L -> "le chien est sur le tapis", 6L -> "")
      .map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toSeq }
    def feats(ws: Seq[String]): Seq[Long] =
      (ws ++ ws.zip(ws.drop(1)).map { case (a, b) => s"$a $b" }).map(bucket)
    val tgtIds = Set(1L, 2L, 3L)
    val tgt = toks.filter(t => tgtIds(t._1)).flatMap(t => feats(t._2))
      .groupBy(identity).map { case (b, bs) => b -> bs.size.toLong }
    val src = toks.flatMap(t => feats(t._2))
      .groupBy(identity).map { case (b, bs) => b -> bs.size.toLong }
    val (nt, ns) = (tgt.values.sum, src.values.sum)
    val want = toks.filter(_._2.nonEmpty).map { case (id, ws) =>
      val ds = feats(ws).map(b =>
        ((tgt.getOrElse(b, 0L) + 1) * 1000000L) / (nt + buckets) -
        ((src(b) + 1) * 1000000L) / (ns + buckets))
      id -> ((ds.size.toLong, ds.sum))
    }.toMap
    assert(got == want)
    assert(!got.contains(6L))
    // every English doc outweighs every French doc under the en target
    assert(tgtIds.map(got(_)._2).min > Set(4L, 5L).map(got(_)._2).max)
  }

  test("distributionDrift: smoothed probabilities, one-sided categories, identical slices") {
    val a = (Seq.fill(6)("en") ++ Seq.fill(3)("de") ++ Seq("fr")).toDF("lang")
    val b = (Seq.fill(4)("en") ++ Seq.fill(1)("zh")).toDF("lang")
    val got = Stats.distributionDrift(a, b, "lang")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    // K = 4 union categories; Laplace: p = (n+1)/(N+K)
    val (ta, tb, k) = (10.0, 5.0, 4.0)
    def terms(na: Long, nb: Long) = {
      val pa = (na + 1) / (ta + k); val pb = (nb + 1) / (tb + k)
      (na, nb, pa, pb, math.abs(pa - pb) / 2, (pa - pb) * (pa - pb) / pb)
    }
    assert(got == Map(
      "en" -> terms(6, 4), "de" -> terms(3, 0),
      "fr" -> terms(1, 0), "zh" -> terms(0, 1)))
    // a slice against itself: zero drift in every term
    val self = Stats.distributionDrift(a, a, "lang")
      .agg(F.sum("tv_term"), F.sum("chi_term")).head
    assert(self.getDouble(0) == 0.0 && self.getDouble(1) == 0.0)
  }

  test("dataCard: per-source docs/chars/tokens/langs/dup counts on a hand fixture") {
    val df = Seq(
      (1L, "alpha beta", "en", "web"),
      (2L, "ALPHA   beta ", "de", "web"),   // same fingerprint as doc 1
      (3L, "gamma", "en", "web"),
      (4L, "delta epsilon zeta", "en", "books")
    ).toDF("doc_id", "text", "lang", "source")
    val got = Text.dataCard(df, "source", "lang", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getDouble(7)))).toMap
    assert(got("web") == ((3L, 28L, 5L, 2L, 2L, 1L, 5.0 / 3.0)))
    assert(got("books") == ((1L, 18L, 3L, 1L, 1L, 0L, 3.0)))
  }

  test("vocabCoverage: hand-counted curve; rank past vocab covers everything") {
    // counts: a=4, b=3, c=2, d=1 (total 10, 4 terms)
    val df = Seq("a a b c", "a b c d", "a b").toDF("text")
    val got = Text.vocabCoverage(df, "text", Seq(1L, 2L, 3L, 10L))
      .select($"rank", $"covered_tokens", $"total_tokens", $"n_terms", $"covered_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 4L, 10L, 4L, 400000L),
      (2L, 7L, 10L, 4L, 700000L),
      (3L, 9L, 10L, 4L, 900000L),
      (10L, 10L, 10L, 4L, 1000000L)))
    // tie at the cut: counts b=2,a=2,c=1 -> rank1 takes 'a' (term asc)
    val tie = Seq("b a b a c").toDF("text")
    val r1 = Text.vocabCoverage(tie, "text", Seq(1L)).head()
    assert(r1.getAs[Long]("covered_tokens") == 2L)
  }

  test("sourceSimilarity: hand-computed ppm vectors; identity and disjoint edges") {
    // A: x2 y1 (t=3) -> fx=666666, fy=333333; B: x1 z1 (t=2) -> f=500000 each
    // dot = 666666*500000; normA2 = 666666^2 + 333333^2; normB2 = 2*500000^2
    val df = Seq(("A", "x x y"), ("B", "x z"), ("C", "q q")).toDF("source", "text")
    val rows = Text.sourceSimilarity(df, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val (dot, na2, nb2) = (333333000000L, 555554444445L, 500000000000L)
    val cos = dot * 1000000L /
      (math.sqrt(na2.toDouble).floor.toLong * math.sqrt(nb2.toDouble).floor.toLong)
    assert(rows(("A", "B")) == ((dot, na2, nb2, cos)))
    assert(cos > 600000L && cos < 700000L) // ~0.632 — sanity on the formula
    // C shares no term with A or B: no pair row at all (inner join semantics)
    assert(rows.size == 1)
    // identical distributions: floor-sqrt cosine is >= 1e6 (exactly 1e6 up
    // to the floor on sqrt), never below
    val twin = Seq(("A", "x y"), ("B", "x y")).toDF("source", "text")
    val c = Text.sourceSimilarity(twin, "source", "text")
      .collect().head.getLong(5)
    assert(c >= 1000000L && c < 1000100L)
  }

  test("sourceSimilarity/sourceDivergence maxSourcesPerTerm: an every-source stopword is capped out; audit reports it") {
    // 'the' appears in ALL three sources (the S² fan-out term, VERDICT r7
    // #7); content words separate the sources
    val df = Seq(("A", "the the cat"), ("B", "the dog"), ("C", "the cat"))
      .toDF("source", "text")
    // cap = 2: 'the' (3 sources) is excluded; 'cat' (2 sources) survives
    val capped = Text.sourceSimilarity(df, "source", "text", maxSourcesPerTerm = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // capped vocabulary: A={cat:1/3->333333}, B={dog:1/2->500000},
    // C={cat:1/2->500000}; only (A,C) shares a term
    assert(capped.keySet == Set(("A", "C")))
    assert(capped(("A", "C")) == 333333L * 500000L)
    // self-consistency on the capped vocabulary: identical sources stay
    // cosine ~1e6 even when the cap bites
    val twin = Seq(("A", "the x"), ("B", "the x"), ("C", "the q")).toDF("source", "text")
    val cTwin = Text.sourceSimilarity(twin, "source", "text", maxSourcesPerTerm = 2)
      .where($"src_a" === "A" && $"src_b" === "B").collect().head.getLong(5)
    assert(cTwin >= 1000000L && cTwin < 1000100L)
    // audit face: exactly the capped term, with its source count
    val audit = Text.sourceSimilarityOversizeTerms(df, "source", "text", 2)
      .as[(String, Long)].collect().toSeq
    assert(audit == Seq(("the", 3L)))
    // divergence under the cap: capped vocab A={cat:1e6}, C={cat:1e6} ->
    // tv=0; A vs B share nothing -> (1e6+1e6) DIV 2 = 1e6
    val tv = Text.sourceDivergence(df, "source", "text", maxSourcesPerTerm = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tv(("A", "C")) == 0L)
    assert(tv(("A", "B")) == 1000000L)
    // uncapped runs are unchanged by the new parameter's default
    val uncapped = Text.sourceSimilarity(df, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(uncapped == Set(("A", "B"), ("A", "C"), ("B", "C")))
  }

  test("interleaveShards: stride keys spread each group through the epoch") {
    // A holds 3 of 4 shards, B holds 1: A keys 4/3,8/3,12/3 -> 1,2,4;
    // B key 4. Tie at 4 breaks by group: A's third shard, then B's.
    val m = Seq(("A", 0L), ("A", 1L), ("A", 2L), ("B", 0L)).toDF("source", "shard_id")
    val got = Sampling.interleaveShards(m, "source", "shard_id")
      .select($"source", $"shard_id", $"stride_key", $"epoch_pos")
      .as[(String, Long, Long, Long)].collect().sortBy(_._4).toSeq
    assert(got == Seq(("A", 0L, 1L, 1L), ("A", 1L, 2L, 2L),
      ("A", 2L, 4L, 3L), ("B", 0L, 4L, 4L)))
    // balanced groups alternate perfectly
    val b = Seq(("A", 0L), ("A", 1L), ("B", 0L), ("B", 1L)).toDF("source", "shard_id")
    val order = Sampling.interleaveShards(b, "source", "shard_id")
      .select($"source", $"epoch_pos").as[(String, Long)]
      .collect().sortBy(_._2).map(_._1).toSeq
    assert(order == Seq("A", "B", "A", "B"))
  }

  test("shardPlan: per-group running offsets in id order; doc goes to the shard where it starts") {
    val docs = Seq(
      (1L, "A", "a b c"),        // offset 0  → shard 0
      (2L, "A", "d e f g"),      // offset 3  → shard 0
      (3L, "A", "h i"),          // offset 7  → shard 1
      (4L, "B", "j k l m n o p q r s")  // offset 0 → shard 0
    ).toDF("doc_id", "source", "text")
    val out = Sampling.shardPlan(docs, "doc_id", "text", "source", targetTokens = 5L)
      .select($"doc_id", $"n_tokens", $"start_offset", $"shard_id")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 0L, 0L)))
    assert(out(2L) == ((2L, 4L, 3L, 0L)))
    assert(out(3L) == ((3L, 2L, 7L, 1L)))
    assert(out(4L) == ((4L, 10L, 0L, 0L)))
  }

  test("trigramLmScore matches a brute-force reference; repeated phrases score above word salad") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "rug mat on cat sat the"),   // same words, scrambled
      (4L, "xx yy")                      // < 3 tokens → no row
    ).toDF("doc_id", "text")
    val out = Text.trigramLmScore(docs, "doc_id", "text")
      .select($"doc_id", $"n_trigrams", $"lm3_avg_ppm")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap

    // brute-force reference in plain Scala
    val texts = Map(1L -> "the cat sat on the mat", 2L -> "the cat sat on the rug",
      3L -> "rug mat on cat sat the", 4L -> "xx yy")
    val toks = texts.view.mapValues(_.split(" ").toSeq).toMap
    val allT = toks.values.flatten.toSeq
    val uni = allT.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bi = toks.values.flatMap(t => t.sliding(2).filter(_.size == 2).map(_.mkString(" ")))
      .toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tri = toks.values.flatMap(t => t.sliding(3).filter(_.size == 3).map(_.mkString(" ")))
      .toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vv = uni.size.toLong; val nn = allT.size.toLong
    def score(id: Long): (Long, Long) = {
      val ws = toks(id)
      val ppms = ws.sliding(3).filter(_.size == 3).map { w =>
        val p3 = ((tri(w.mkString(" ")) + 1) * 1000000L) / (bi(w.take(2).mkString(" ")) + vv)
        val p2 = ((bi(w.drop(1).mkString(" ")) + 1) * 1000000L) / (uni(w(1)) + vv)
        val p1 = ((uni(w(2)) + 1) * 1000000L) / (nn + vv)
        (6 * p3 + 3 * p2 + 1 * p1) / 10
      }.toSeq
      (ppms.size.toLong, ppms.sum / ppms.size)
    }
    for (id <- Seq(1L, 2L, 3L)) {
      val (n, avg) = score(id)
      assert(out(id) == ((id, n, avg)), s"doc $id")
    }
    assert(!out.contains(4L))
    // shared trigram mass ("the cat sat", "cat sat on") lifts 1/2 over
    // the scrambled doc 3, whose trigrams are all singletons
    assert(out(1L)._3 > out(3L)._3 && out(2L)._3 > out(3L)._3)
  }

  test("semDedup: within-cell near-dups keep the lowest id; cross-cell twins both survive; NaN never dups") {
    // two tight clusters on orthogonal axes + one zero vector
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),   // centroid 0
      (1L, Array(0.0f, 1.0f, 0.0f)),   // centroid 1
      (2L, Array(0.9f, 0.1f, 0.0f)),   // cell 0, near-dup of 0 → dropped
      (3L, Array(0.0f, 0.95f, 0.1f)),  // cell 1, near-dup of 1 → dropped
      (4L, Array(0.0f, 0.0f, 0.0f))    // zero norm: NaN cosine → kept
    ).toDF("vec_id", "embedding")
    val cents = emb.where($"vec_id" < 2)
      .select($"vec_id".as("cid"), $"embedding".as("cv"))
    val kept = Similarity.semDedup(emb, "vec_id", "embedding",
        cents, "cid", "cv", threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 4L))
  }

  test("semDedup: cells over maxCellSize skip pair generation (rows kept, counted drop) + audit face") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),   // cell 0 near-dup — would drop uncapped
      (3L, Array(0.0f, 0.95f, 0.1f))   // cell 1 near-dup — would drop uncapped
    ).toDF("vec_id", "embedding")
    val cents = emb.where($"vec_id" < 2)
      .select($"vec_id".as("cid"), $"embedding".as("cv"))
    // cap of 1: both 2-member cells are oversize → no pairs emitted, all kept
    val kept = Similarity.semDedup(emb, "vec_id", "embedding",
        cents, "cid", "cv", threshold = 0.9, maxCellSize = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 2L, 3L))
    // audit face reports exactly those cells with their populations
    val over = Similarity.semDedupOversizeCells(emb, "vec_id", "embedding",
        cents, "cid", "cv", maxCellSize = 1)
      .as[(Long, Long)].collect().toMap
    assert(over == Map(0L -> 2L, 1L -> 2L))
    // a generous cap changes nothing (q124's hash-pinned behavior)
    val keptDefault = Similarity.semDedup(emb, "vec_id", "embedding",
        cents, "cid", "cv", threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(keptDefault == Set(0L, 1L))
  }

  test("maskDuplicatedSpans: corpus-wide repeated 8-gram masks its positions; short docs untouched") {
    val boiler = "a b c d e f g h" // the shared 8-gram
    val docs = Seq(
      (1L, s"x1 $boiler y1 z1"),
      (2L, s"x2 x3 $boiler"),
      (3L, "unique words only here"),          // < 8 tokens → no windows
      (4L, s"$boiler")                          // exactly the dup gram
    ).toDF("doc_id", "text")
    val out = Dedup.maskDuplicatedSpans(docs, "doc_id", "text", n = 8, minCount = 2L)
      .select($"doc_id", $"n_tokens", $"n_masked", $"clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 11L, 8L, "x1 y1 z1")))
    assert(out(2L) == ((2L, 10L, 8L, "x2 x3")))
    assert(out(3L) == ((3L, 4L, 0L, "unique words only here")))
    assert(out(4L) == ((4L, 8L, 8L, "")))
  }

  test("maskDuplicatedSpans: overlapping dup windows union their coverage") {
    // "a b c d e f g h i" appears twice → windows at pos 0 and 1 both dup
    val s9 = "a b c d e f g h i"
    val docs = Seq((1L, s"$s9 tail1"), (2L, s"$s9 tail2")).toDF("doc_id", "text")
    val out = Dedup.maskDuplicatedSpans(docs, "doc_id", "text", n = 8, minCount = 2L)
      .select($"doc_id", $"n_masked", $"clean_text")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // both 8-gram windows of s9 repeat corpus-wide: 9 positions masked
    assert(out(1L) == ((1L, 9L, "tail1")))
    assert(out(2L) == ((2L, 9L, "tail2")))
  }

  test("maskJoin expression: int and bigint positions, null tokens skipped, empty coverage = plain join") {
    val df = Seq((Seq("a", "b", "c", "d"), Seq(1, 3))).toDF("t", "p")
    assert(df.select(graft.plans.Expressions.maskJoin($"t", $"p"))
      .as[String].head() == "a c")
    val dfL = Seq((Seq("a", "b", "c"), Seq(0L))).toDF("t", "p")
    assert(dfL.select(graft.plans.Expressions.maskJoin($"t", $"p"))
      .as[String].head() == "b c")
    val dfE = Seq((Seq("a", "b"), Seq.empty[Int])).toDF("t", "p")
    assert(dfE.select(graft.plans.Expressions.maskJoin($"t", $"p"))
      .as[String].head() == "a b")
    // a null token is absent (the shingle expressions' convention); its
    // INDEX still counts for masking, matching filter's (x, i) indexing
    val dfN = Seq((Seq[String]("a", null, "c"), Seq(2))).toDF("t", "p")
    assert(dfN.select(graft.plans.Expressions.maskJoin($"t", $"p"))
      .as[String].head() == "a")
  }

  test("boilerplateGrams: per-source doc-frequency, in-doc repeats count once, below-ratio grams excluded") {
    val docs = Seq(
      (1L, "A", "x click here y click here"),  // "click here" twice → df 1
      (2L, "A", "click here now"),
      (3L, "A", "nothing shared at all"),
      (4L, "B", "click here")
    ).toDF("doc_id", "source", "text")
    val out = Text.boilerplateGrams(docs, "text", "source",
        n = 2, minDocRatioPpm = 600000L)
      .select($"source", $"gram", $"df", $"n_docs", $"ratio_ppm")
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("A", "click here", 2L, 3L, 666666L),
      ("B", "click here", 1L, 1L, 1000000L)))
  }

  test("maskDuplicatedSpans matches a brute-force reference on random corpora") {
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 3) {
      val n = 3 // small n + tiny alphabet → real cross-doc dup windows
      val docs = Vector.tabulate(25) { i =>
        (i.toLong, Vector.fill(rnd.nextInt(12))(
          ('a' + rnd.nextInt(3)).toChar.toString).mkString(" "))
      }
      val got = Dedup.maskDuplicatedSpans(docs.toDF("doc_id", "text"),
          "doc_id", "text", n = n, minCount = 2L)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

      val toks = docs.map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty).toVector }.toMap
      val counts = toks.values.flatMap(_.sliding(n).filter(_.size == n)
        .map(_.mkString(" "))).groupBy(identity).view.mapValues(_.size).toMap
      val want = docs.map { case (id, _) =>
        val ws = toks(id)
        val cov = ws.sliding(n).zipWithIndex
          .filter { case (g, _) => g.size == n && counts(g.mkString(" ")) >= 2 }
          .flatMap { case (_, i) => i until (i + n) }.toSet
        val clean = ws.zipWithIndex.collect {
          case (w, i) if !cov.contains(i) => w }.mkString(" ")
        id -> ((ws.size.toLong, cov.size.toLong, clean))
      }.toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("chunkDocuments matches a brute-force reference on random docs and strides") {
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 3) {
      val (window, stride) = Seq((4, 4), (5, 3), (3, 1))(trial - 1)
      val docs = Vector.tabulate(20) { i =>
        (i.toLong, Vector.fill(rnd.nextInt(13))(
          ('a' + rnd.nextInt(5)).toChar.toString).mkString(" "))
      }
      val got = Text.chunkDocuments(docs.toDF("doc_id", "text"),
          "doc_id", "text", window, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getString(2), r.getLong(3)))).toMap
      val want = docs.flatMap { case (id, t) =>
        val ws = t.split(" ").filter(_.nonEmpty).toVector
        Iterator.from(0).map(_ * stride).takeWhile(_ < ws.size).zipWithIndex
          .map { case (s, ci) =>
            val c = ws.slice(s, s + window)
            (id, ci.toLong) -> ((c.mkString(" "), c.size.toLong)) }
      }.toMap
      assert(got == want, s"trial $trial window=$window stride=$stride")
      // stride == window → chunks partition the tokens exactly
      if (window == stride) docs.foreach { case (id, t) =>
        val ws = t.split(" ").filter(_.nonEmpty).toVector
        val rebuilt = got.toSeq.filter(_._1._1 == id).sortBy(_._1._2)
          .flatMap(_._2._1.split(" ").filter(_.nonEmpty))
        assert(rebuilt == ws, s"doc $id not partitioned")
      }
    }
  }

  test("shardPlan matches a brute-force reference; shard budgets hold") {
    val rnd = new scala.util.Random(59)
    for (trial <- 1 to 3) {
      val target = Seq(5L, 9L, 17L)(trial - 1)
      val docs = Vector.tabulate(30) { i =>
        (i.toLong, s"g${rnd.nextInt(3)}", Vector.fill(1 + rnd.nextInt(6))("w").mkString(" "))
      }
      val got = Sampling.shardPlan(docs.toDF("doc_id", "source", "text"),
          "doc_id", "text", "source", target)
        .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val want = docs.groupBy(_._2).values.flatMap { grp =>
        var off = 0L
        grp.sortBy(_._1).map { case (id, _, t) =>
          val n = t.split(" ").count(_.nonEmpty).toLong
          val r = id -> ((n, off, off / target)); off += n; r
        }
      }.toMap
      assert(got == want, s"trial $trial target=$target")
      // every shard's token total reaches target before a new shard opens
      // (i.e. a doc starts a new shard only past the budget boundary)
      got.values.foreach { case (_, off, sh) =>
        assert(off / target == sh && off - sh * target < target)
      }
    }
  }

  test("boilerplateGrams matches a brute-force doc-frequency reference on random corpora") {
    val rnd = new scala.util.Random(61)
    for (trial <- 1 to 3) {
      val docs = Vector.tabulate(24) { i =>
        (i.toLong, s"s${rnd.nextInt(3)}", Vector.fill(rnd.nextInt(8))(
          ('a' + rnd.nextInt(3)).toChar.toString).mkString(" "))
      }
      val minPpm = 250000L
      val got = Text.boilerplateGrams(docs.toDF("doc_id", "source", "text"),
          "text", "source", n = 2, minDocRatioPpm = minPpm)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val bySrc = docs.groupBy(_._2)
      val want = bySrc.flatMap { case (src, grp) =>
        val nDocs = grp.size.toLong
        grp.flatMap { case (_, _, t) =>
          val ws = t.split(" ").filter(_.nonEmpty).toVector
          ws.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSet
        }.groupBy(identity).map { case (g, gs) =>
          (src, g) -> ((gs.size.toLong, nDocs, gs.size.toLong * 1000000L / nDocs)) }
          .filter(_._2._3 >= minPpm)
      }
      assert(got == want.toMap, s"trial $trial")
    }
  }

  test("chunkDocuments: overlapping windows, short trailing chunk, empty docs produce nothing") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "")).toDF("doc_id", "text")
    val out = Text.chunkDocuments(docs, "doc_id", "text", window = 4, stride = 3)
      .select($"doc_id", $"chunk_id", $"chunk_text", $"n_tokens")
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out == Seq(
      (1L, 0L, "a b c d", 4L),
      (1L, 1L, "d e f g", 4L),
      (1L, 2L, "g", 1L)))
  }

  test("oovRate: corpus top-k vocabulary with deterministic ties; per-doc ppm") {
    val docs = Seq(
      (1L, "x x x y z"),   // x:3(+2 below)=5? counts are corpus-wide
      (2L, "x x y y w")
    ).toDF("doc_id", "text")
    // corpus freqs: x=5, y=3, z=1, w=1 → vocab(2) = {x, y}
    val out = Text.oovRate(docs, "doc_id", "text", vocabSize = 2)
      .select($"doc_id", $"n_tokens", $"n_oov", $"oov_ppm")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 5L, 1L, 200000L)))
    assert(out(2L) == ((2L, 5L, 1L, 200000L)))
  }

  test("binaryDupGroups: byte-identical payloads group; canonical = min id") {
    val docs = Seq(
      (1L, Array[Byte](1, 2, 3)),
      (2L, Array[Byte](1, 2, 3)),   // dup of 1
      (3L, Array[Byte](1, 2, 4))
    ).toDF("doc_id", "payload")
    val out = Multimodal.binaryDupGroups(docs, "doc_id", "payload")
      .select($"canonical_id", $"n_copies")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("corpusDiff: added/removed/common per source; absent categories count zero") {
    val v1 = Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("doc_id", "source")
    val v2 = Seq((2L, "A"), (3L, "B"), (4L, "B"), (5L, "C")).toDF("doc_id", "source")
    val out = Dedup.corpusDiff(v1, v2, "doc_id", "source")
      .select($"source", $"n_added", $"n_removed", $"n_common")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("A", 0L, 1L, 1L),   // doc 1 removed, doc 2 common
      ("B", 1L, 0L, 1L),   // doc 4 added, doc 3 common
      ("C", 1L, 0L, 0L)))  // doc 5 added
  }

  test("decontaminationReport: distinct leaked grams per doc with a first-gram sample; clean docs absent") {
    val eval = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x a b c y a b c"),   // "a b c" twice in-doc → counts once
      (2L, "a b c d e"),         // "a b c" + "b c d" leak; "c d e" clean
      (3L, "totally clean text here")
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminationReport(corpus, "doc_id", "text", eval, "text", n = 3)
      .select($"doc_id", $"n_leaked_grams", $"first_leaked_gram")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1L, "a b c")))
    assert(out(2L) == ((2L, 2L, "a b c")))
    assert(!out.contains(3L))
  }

  test("keepBestOfClusters: max quality wins, ties to lowest id, unclustered docs survive") {
    val docs = Seq(
      (1L, 5L), (2L, 9L), (3L, 9L),  // cluster 1: 2 and 3 tie on quality → 2
      (4L, 1L)                        // no cluster → kept
    ).toDF("doc_id", "quality")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "cluster_id")
    val kept = Dedup.keepBestOfClusters(docs, "doc_id", clusters,
        "id", "cluster_id", "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
  }

  /** Runs `body` with a fresh checkpoint dir set on the shared context, then
    * unsets it and deletes the dir, so no later test sees reliable cuts. */
  private def withCheckpointDir[A](body: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try body(dir)
    finally {
      org.apache.spark.CheckpointDirShim.clear(spark.sparkContext)
      graft.util.Fs.deleteRecursively(dir)
    }
  }

  private val cutDocs = Seq(
    (1L, "a b c d e f g"), (2L, "a b c d e f h"),
    (3L, "x y z w v u t"), (4L, "x y z w v u t"),
    (5L, "p q r s a b c d e f g p q r s"))

  test("a checkpoint dir turns the lineage cuts reliable with result-identical rows") {
    // each function runs once with local cuts (no dir) and once with
    // reliable cuts (dir set); the lazy-cut sites are covered, and so is
    // dropNearDups, which composes nearDupPairs with duplicateClusters
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "a checkpoint dir leaked onto the shared context")
    val docs = cutDocs.toDF("doc_id", "text")
    val big = (1L to 50L).map(i => (i, i % 7L)).toDF("k", "v")
    val small = Seq(0L, 1L, 2L).toDF("sk")
    val src = (1L to 40L).map(i => (i, s"p$i")).toDF("id", "s")
    val copy = (1L to 40L).filter(_ != 11L).map(i =>
      (i, if (i == 13L) "X" else s"p$i")).toDF("id", "s")
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "nearDupPairs" -> (() => Dedup.nearDupPairs(docs, "doc_id", "text",
        k = 3, numHashes = 4, rowsPerBand = 2, threshold = 0.05)),
      "maskDuplicatedSpans" -> (() => Dedup.maskDuplicatedSpans(docs,
        "doc_id", "text", n = 3, minCount = 2L)),
      "maskEvalSpans" -> (() => Dedup.maskEvalSpans(docs, "doc_id", "text",
        docs.where($"doc_id" === 5L), "text", n = 3)),
      "bloomSemiJoin" -> (() => Scale.bloomSemiJoin(big, small, "k", "sk")),
      "copyRepairPlan" -> (() => Scale.copyRepairPlan(src, copy, "id",
        Seq("id", "s"), shards = 4, cutRowHashes = true)),
      "dropNearDups" -> (() => Dedup.dropNearDups(docs, "doc_id", "text",
        k = 3, numHashes = 4, rowsPerBand = 2, threshold = 0.05)))
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val local = cases.map { case (name, run) => name -> rows(run()) }
    val reliable = withCheckpointDir { dir =>
      val out = cases.map { case (name, run) => name -> rows(run()) }
      val written = java.nio.file.Files.walk(dir).iterator().asScala
        .count(_.getFileName.toString.startsWith("rdd-"))
      assert(written >= cases.size, s"only $written reliable checkpoints written")
      out
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    local.zip(reliable).foreach { case ((name, l), (_, r)) =>
      assert(l.nonEmpty, name)
      assert(l == r, name)
    }
  }

  test("a reliable lineage cut evaluates its input once") {
    // the nearDupPairs signature cut is lazy when local. Reliable, it is
    // eager: the input is read once while the frame is built, and the
    // action reads the checkpoint instead of running the lineage again
    // (a lazy reliable checkpoint writes in a second job that recomputes)
    val evals = spark.sparkContext.longAccumulator("graft.spec.sigEvals")
    val tap = F.udf((s: String) => { evals.add(1L); s }).asNondeterministic()
    // an RDD-backed frame: over a local relation the optimizer would fold
    // the tap at planning time instead of running it in a job
    val docs = spark.sparkContext.parallelize(cutDocs, 2).toDF("doc_id", "text")
      .select($"doc_id", tap($"text").as("text"))
    def run(): (Long, Long) = {
      evals.reset()
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", k = 3,
        numHashes = 4, rowsPerBand = 2, threshold = 0.05)
      val atBuild = evals.sum
      pairs.collect()
      (atBuild, evals.sum)
    }
    val (localBuild, localTotal) = run()
    val (reliableBuild, reliableTotal) = withCheckpointDir(_ => run())
    assert(localBuild == 0L)
    assert(reliableBuild == cutDocs.size.toLong)
    assert(reliableTotal == localTotal)
  }

  test("Lineage.release deletes a reliable cut's files, also through a projection of it") {
    withCheckpointDir { dir =>
      def written = java.nio.file.Files.walk(dir).iterator().asScala
        .count(_.getFileName.toString.startsWith("rdd-"))
      val cut = graft.util.Lineage.cut((1L to 10L).toDF("n"))
      val projected = cut.select(($"n" + 1).as("m"))
      assert(written == 1)
      graft.util.Lineage.release(projected)
      assert(written == 0)
    }
  }

  test("duplicateClusters deletes each finished round's reliable cut") {
    // a path 1-2-..-n needs n-1 propagation rounds (n-2 to carry label 1
    // to the far end, one more to see no change), and every round cuts
    // once; only the edge table and the last round may outlive the call
    def rddDirs(n: Long): Long = withCheckpointDir { dir =>
      val path = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
      assert(Dedup.duplicateClusters(path, "a", "b")
        .select("cluster_id").as[Long].collect().toSet == Set(1L))
      java.nio.file.Files.walk(dir).iterator().asScala
        .count(_.getFileName.toString.startsWith("rdd-")).toLong
    }
    val (twoRounds, fiveRounds) = (rddDirs(3L), rddDirs(6L))
    assert(twoRounds == fiveRounds, s"$twoRounds rdd dirs after 2 rounds, $fiveRounds after 5")
  }

  test("keepBestOfClusters: NULL cluster labels pass through as unclustered (ADVICE r16)") {
    // a NULL label means "not clustered" — the drop-list build must not
    // collapse null-labeled rows into one NULL group and keep only one
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 7L)).toDF("doc_id", "quality")
    val clusters = Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]),
        (3L, Some(3L))).toDF("id", "cluster_id")
    val kept = Dedup.keepBestOfClusters(docs, "doc_id", clusters,
        "id", "cluster_id", "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("keepBestOfClusters: fractional quality compares exactly (no long truncation)") {
    // 1.2 vs 1.9 floor to the same long — the argmax must still pick 1.9
    val docs = Seq((1L, 1.2), (2L, 1.9)).toDF("doc_id", "quality")
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster_id")
    val kept = Dedup.keepBestOfClusters(docs, "doc_id", clusters,
        "id", "cluster_id", "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
  }

  test("crossCorpusDedup: batch doc sharing an 8-gram with base drops; short and clean docs survive") {
    val shared = "p q r s t u v w"
    val base = Seq((100L, s"base doc $shared end")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, s"new doc with $shared inside"),  // contaminated → dropped
      (2L, "fresh content nothing shared here at all ok"), // 8 clean tokens
      (3L, "tiny doc")                        // < 8 tokens → kept
    ).toDF("doc_id", "text")
    val kept = Dedup.crossCorpusDedup(batch, base, "doc_id", "text", k = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
  }

  test("classifierScore matches a brute-force hashed-linear-model reference; empty docs drop") {
    val rnd = new scala.util.Random(67)
    def w(tok: String): Long =
      (graft.plans.Expressions.md5Head(
        tok.getBytes(java.nio.charset.StandardCharsets.UTF_8)) % 4096L) *
        2654435761L % 2001L
    for (trial <- 1 to 3) {
      val docs = Vector.tabulate(20) { i =>
        (i.toLong, Vector.fill(rnd.nextInt(7))(
          ('a' + rnd.nextInt(5)).toChar.toString * (1 + rnd.nextInt(3))).mkString(" "))
      }
      val got = Text.classifierScore(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
      val want = docs.flatMap { case (id, t) =>
        val toks = t.split(" ").filter(_.nonEmpty).toVector
        if (toks.isEmpty) None else {
          val sum = toks.map(w).sum
          val milli = sum * 1000L / toks.size
          Some(id -> ((toks.size.toLong, sum, milli, milli >= 1000000L)))
        }
      }.toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("classifierScoreWithModel: a model table carrying the closed-form weights reproduces classifierScore exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // trained-model face fed the closed form as its weight table: the two
    // faces must agree bit-for-bit (same hash, same fold, same verdict)
    val model = spark.range(4096).select(F.col("id").as("bucket"),
      (F.col("id") * 2654435761L % 2001L).as("weight"))
    val a = Text.classifierScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    val b = Text.classifierScoreWithModel(docs, "doc_id", "text",
        model, "bucket", "weight")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(a.size == 500 && a == b)
    // sparse model: missing buckets weigh 0 -> strictly lower scores
    val sparse = Text.classifierScoreWithModel(docs, "doc_id", "text",
        model.where(F.col("bucket") % 2L === 0L), "bucket", "weight")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sparse.forall { case (id, s) => s <= a(id)._2 })
  }

  test("temperatureMixWeights: exact isqrt ppm shares; flatter than natural; sums under 1e6") {
    val rnd = new scala.util.Random(71)
    val docs = Vector.tabulate(40) { i =>
      val src = s"s${i % 4}"
      // s0 gets ~16x the token mass of s3 so flattening is observable
      val n = 1 + rnd.nextInt(4) * (4 - (i % 4)) * (4 - (i % 4))
      (i.toLong, src, Vector.fill(n)("w").mkString(" "))
    }
    val got = Sampling.temperatureMixWeights(
        docs.toDF("doc_id", "source", "text"), "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val toks = docs.groupBy(_._2).view.mapValues(
      _.map(_._3.split(" ").count(_.nonEmpty).toLong).sum).toMap
    val isqrts = toks.view.mapValues(t => math.sqrt(t.toDouble).toLong).toMap
    val tot = isqrts.values.sum
    got.foreach { case (src, (nDocs, nTokens, isqrt, ppm)) =>
      assert(nDocs == docs.count(_._2 == src).toLong)
      assert(nTokens == toks(src))
      assert(isqrt * isqrt <= nTokens && (isqrt + 1) * (isqrt + 1) > nTokens)
      assert(ppm == isqrt * 1000000L / tot, src)
      // alpha=1/2 flattens: every source's share moves toward uniform
      val natural = nTokens.toDouble / toks.values.sum
      val mixed = ppm / 1e6
      val uniform = 1.0 / toks.size
      assert((mixed - uniform).abs <= (natural - uniform).abs + 1e-6, src)
    }
    assert(got.values.map(_._4).sum <= 1000000L)
  }

  test("ivfCellBalance: per-cell counts and ppm shares on the clustered fixture") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.1f, 0.9f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val cents = vecs.where($"vec_id".isin(0L, 2L, 4L))
    val got = Similarity.ivfCellBalance(vecs, "embedding", "vec_id",
        cents, "vec_id", "embedding")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // cells: 0 <- {0,1}, 2 <- {2,3}, 4 <- {4}; shares 2/5, 2/5, 1/5
    assert(got == Seq((0L, 2L, 400000L), (2L, 2L, 400000L), (4L, 1L, 200000L)))
  }

  test("shardBalance: fills, one-doc overshoot, and the underfull tail shard") {
    // A tokens 3,3,3 budget 5: offsets 0,3,6 -> shards 0,0,1
    val df = Seq(
      (1L, "a b c", "A"), (2L, "d e f", "A"), (3L, "g h i", "A"),
      (4L, "x", "B")).toDF("doc_id", "text", "source")
    val got = Sampling.shardBalance(df, "doc_id", "text", "source", targetTokens = 5L)
      .select($"source", $"shard_id", $"n_docs", $"shard_tokens", $"fill_ppm")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      ("A", 0L, 2L, 6L, 1200000L),   // overshoot: budget + (3-2) extra tokens
      ("A", 1L, 1L, 3L, 600000L),    // underfull tail
      ("B", 0L, 1L, 1L, 200000L)))
  }

  test("sourceDivergence: hand-computed TV ppm incl. a no-shared-term pair") {
    // A: x 666666, y 333333 (mass 999999); B: x 500000, z 500000 (mass 1e6);
    // C: q 1000000. TV(A,B) = (|666666-500000| + 333333 + 500000)/2 = 499999
    val df = Seq(("A", "x x y"), ("B", "x z"), ("C", "q q")).toDF("source", "text")
    val got = Text.sourceDivergence(df, "source", "text")
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("A", "B")) == 499999L)
    assert(got(("A", "C")) == 999999L)    // disjoint: (999999 + 1000000) DIV 2
    assert(got(("B", "C")) == 1000000L)   // disjoint, full masses
    assert(got.size == 3)                 // every pair appears exactly once
    // identical distributions: TV is 0 exactly
    val twin = Seq(("A", "x y"), ("B", "x y")).toDF("source", "text")
    assert(Text.sourceDivergence(twin, "source", "text")
      .head().getAs[Long]("tv_ppm") == 0L)
  }

  test("clusterSizeHistogram: sizes, cluster counts, and doc totals") {
    val lbl = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 6L))
      .toDF("id", "cluster_id")
    val got = Dedup.clusterSizeHistogram(lbl, "cluster_id")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L, 1L), (2L, 1L, 2L), (3L, 1L, 3L)))
  }

  test("crossSourceDupMatrix: unordered source pairs incl. the diagonal") {
    val df = Seq(
      (1L, "x y z w", "A"), (2L, "x y z w", "B"),     // cross-source dup
      (3L, "p q r s", "A"), (4L, "p q r s", "A"),     // within-source dup
      (5L, "totally unrelated filler words here", "B"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceDupMatrix(df, "doc_id", "text", "source")
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(("A", "A") -> 1L, ("A", "B") -> 1L))
  }

  test("incrementalNovelty: per-doc unseen-gram fraction vs a base corpus") {
    // base grams: {a b c, b c d} from doc 10. new doc 1 "a b c d e":
    // grams {a b c, b c d, c d e} -> 1 new of 3. new doc 2 all-new.
    val base = Seq((10L, "a b c d")).toDF("doc_id", "text")
    val nw = Seq((1L, "a b c d e"), (2L, "x y z w")).toDF("doc_id", "text")
    val got = Dedup.incrementalNovelty(nw, base, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 1L, 333333L),
      (2L, 2L, 2L, 1000000L)))
  }

  test("gateFunnel: first-fail charging, cumulative in/out, all-pass tail") {
    val df = Seq(
      (1L, "ok en long enough text", "en"),     // passes all
      (2L, "short", "en"),                      // fails gate 0 (min_tokens)
      (3L, "this is long enough text", "de"),   // fails gate 1 (lang)
      (4L, "a b c d e ! ! ! ! ! ! ! !", "en"),  // fails gate 2 (punct-heavy)
      (5L, "short", "de"))                      // fails gate 0 FIRST (charged there)
      .toDF("doc_id", "text", "lang")
    val got = Text.gateFunnel(df, Seq(
        "min_tokens" -> (Text.tokenCount($"text") >= 5),
        "lang_en" -> ($"lang" === "en"),
        "quality" -> Text.qualityKeep($"text")))
      .select($"gate_idx", $"gate", $"n_in", $"n_out")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, "min_tokens", 5L, 3L),
      (1L, "lang_en", 3L, 2L),
      (2L, "quality", 2L, 1L)))
  }

  test("thresholdCalibration: thresholds bracket the target keep rates") {
    // 40 docs, 2 sources, distinct texts -> spread score distribution
    val df = (0 until 40).map { i =>
      (i.toLong, s"w$i x$i y${i * 7 % 13} z${i * 5 % 11} q$i", if (i % 2 == 0) "A" else "B")
    }.toDF("doc_id", "text", "source")
    val thr = Text.thresholdCalibration(df, "doc_id", "text", "source",
        Seq("keep50" -> 0.50, "keep25" -> 0.75))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val scores = Text.classifierScore(df, "doc_id", "text")
      .join(df.select($"doc_id", $"source"), "doc_id")
      .select($"source", $"score_milli").as[(String, Long)].collect()
    for ((src, (n, t50, t25)) <- thr) {
      assert(n == 20L)
      val s = scores.filter(_._1 == src).map(_._2)
      // quantile_cont bracketing: #(x > Q(p)) <= (1-p)·n <= #(x >= Q(p))
      assert(s.count(_ > t50) <= n / 2 && s.count(_ >= t50) >= n / 2, src)
      assert(s.count(_ > t25) <= n / 4 && s.count(_ >= t25) >= n / 4, src)
      assert(t25 >= t50, src)
    }
  }

  test("dedupSentencesKeepFirst: repeated sentences survive only at (min doc, min pos)") {
    val df = Seq(
      (1L, "alpha beta. gamma delta. alpha beta"),  // within-doc repeat dropped
      (2L, "gamma delta. epsilon"))                 // cross-doc repeat dropped
      .toDF("doc_id", "text")
    val got = Dedup.dedupSentencesKeepFirst(df, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 2L, "alpha beta. gamma delta"),
      (2L, 2L, 1L, "epsilon")))
  }

  test("budgetProjection: kept docs bracket the quantile rate; yields are consistent") {
    val df = (0 until 40).map { i =>
      (i.toLong, s"w$i x$i y${i * 7 % 13} z${i * 5 % 11} q$i", if (i % 2 == 0) "A" else "B")
    }.toDF("doc_id", "text", "source")
    val got = Text.budgetProjection(df, "doc_id", "text", "source", 0.75)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    for ((src, (_, n, kept, toks)) <- got) {
      assert(n == 20L)
      // quantile_cont bracketing: #(x >= Q(0.75)) >= n/4; #(x > Q) <= n/4
      assert(kept >= n / 4, s"$src kept=$kept")
      assert(kept <= n, src)
      assert(toks >= kept * 5, s"$src: every doc has 5 tokens")  // 5-token docs
      assert(toks == kept * 5L, src)
    }
  }

  test("maskEvalSpans: masks exactly the eval-overlapping window positions") {
    val eval = Seq((100L, "a b c")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x a b c y"),          // window at pos 1 -> positions 1..3 masked
      (2L, "p q r s t"))          // untouched
      .toDF("doc_id", "text")
    val got = Dedup.maskEvalSpans(corpus, "doc_id", "text", eval, "text", n = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 5L, 3L, "x y"),
      (2L, 5L, 0L, "p q r s t")))
  }

  test("signatureDupGroups: histogram key groups reordered bytes, not different content") {
    val df = Seq(
      (1L, "abc"), (2L, "cba"),      // same chars reordered -> same signature
      (3L, "abd"),                   // different content -> alone, no group
      (4L, "abc"))                   // identical -> joins group of 1,2
      .toDF("doc_id", "text")
      .select($"doc_id", Multimodal.fakePayload($"text").as("payload"))
    val got = Multimodal.signatureDupGroups(df, "doc_id", "payload", bins = 8)
      .as[(String, Long, Long)].collect().toSeq
    assert(got.size == 1)
    assert(got.head._2 == 3L && got.head._3 == 1L)  // {1,2,4}, canonical 1
  }

  test("repetitionProfile: hand-computed Gopher gates incl. degenerate docs") {
    val df = Seq(
      (1L, "a a a b a b x"), // n=7: a=4 -> topw 4e6/7; "a a"x2,"a b"x2 of 6
                            // bigrams -> 333333; 5 distinct trigrams -> 0;
                            // run "a a a" -> 3
      (2L, ""),             // empty: nulls, run 0
      (3L, "w"),            // single token: topw 1e6, bigram/trigram null
      (4L, "w w"),          // topw 1e6; one bigram slot, count 1 -> 1e6
      (5L, "s p s p s p"))  // template spam: trigrams "s p s"x2,"p s p"x2
                            // of 4 slots -> dup (4-2)/4 = 500000
      .toDF("doc_id", "text")
    val got = Text.repetitionProfile(df, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Option[Long], Option[Long], Option[Long], Long)]
      .collect().toSeq
    assert(got == Seq(
      (1L, 7L, Some(4000000L / 7), Some(2000000L / 6), Some(0L), 3L),
      (2L, 0L, None, None, None, 0L),
      (3L, 1L, Some(1000000L), None, None, 1L),
      (4L, 2L, Some(1000000L), Some(1000000L), None, 2L),
      (5L, 6L, Some(500000L), Some(3000000L / 5), Some(500000L), 1L)))
  }

  test("perceptualDupGroups: re-encoded (PNG->BMP) image dedups; distinct image doesn't; checksum dedup can't see it") {
    import java.awt.image.BufferedImage
    // 64x64 gray checkerboard in 8x8 blocks; seed shifts the phase so
    // make(1) is a genuinely different picture, not a re-encode
    def make(seed: Int): BufferedImage = {
      val im = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = if (((x / 8) + (y / 8) + seed) % 2 == 0) 230 else 20
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      im
    }
    def enc(im: BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, fmt, bos)
      bos.toByteArray
    }
    val a = make(0)
    val (png, bmp, other) = (enc(a, "png"), enc(a, "bmp"), enc(make(1), "png"))
    // the pair is re-ENCODED, not byte-identical — so the md5 tier misses it
    assert(!java.util.Arrays.equals(png, bmp))
    val df = Seq((1L, png), (2L, bmp), (3L, other)).toDF("id", "payload")
    assert(Multimodal.binaryDupGroups(df, "id", "payload")
      .where($"n_copies" >= 2).count() == 0)
    // ...while the decoded-pixel average-hash groups exactly {png, bmp}
    val groups = Multimodal.perceptualDupGroups(df, "id", "payload",
      Multimodal.ImageIOCodec).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("n_copies") == 2L)
    assert(groups(0).getAs[Long]("canonical_id") == 1L)
  }

  test("perceptualDupGroups audio: re-containerized (WAV->AIFF) clip dedups on the envelope hash; different clip doesn't") {
    import javax.sound.sampled._
    // same logical PCM written into two containers: WAV is 16-bit LE,
    // AIFF is 16-bit BE — different bytes, same samples
    def encode(samples: Array[Short], typ: AudioFileFormat.Type,
        bigEndian: Boolean): Array[Byte] = {
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, bigEndian)
      val data = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        val s = samples(i)
        if (bigEndian) { data(2 * i) = (s >> 8).toByte; data(2 * i + 1) = s.toByte }
        else { data(2 * i) = s.toByte; data(2 * i + 1) = (s >> 8).toByte }
      }
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, typ, bos)
      bos.toByteArray
    }
    // block-alternating loud/quiet envelope (1000-frame blocks over 8000
    // frames = 8 grid cells per block): a flat envelope would leave every
    // cell at the threshold and the hash bits arbitrary
    def blocks(phase: Int): Array[Short] = Array.tabulate(8000) { i =>
      val amp = if ((i / 1000 + phase) % 2 == 0) 20000 else 1000
      (if (i % 2 == 0) amp else -amp).toShort
    }
    val wav = encode(blocks(0), AudioFileFormat.Type.WAVE, bigEndian = false)
    val aiff = encode(blocks(0), AudioFileFormat.Type.AIFF, bigEndian = true)
    val otherWav = encode(blocks(1), AudioFileFormat.Type.WAVE, bigEndian = false)
    assert(!java.util.Arrays.equals(wav, aiff))
    val df = Seq((1L, wav), (2L, aiff), (3L, otherWav)).toDF("id", "payload")
    assert(Multimodal.binaryDupGroups(df, "id", "payload")
      .where($"n_copies" >= 2).count() == 0)
    val groups = Multimodal.perceptualDupGroups(df, "id", "payload",
      Multimodal.WavCodec).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("n_copies") == 2L)
    assert(groups(0).getAs[Long]("canonical_id") == 1L)
  }

  test("dHash audio: a gain-companded (monotone non-affine) clip groups under Difference but not Average") {
    import javax.sound.sampled._
    def encode(samples: Array[Short]): Array[Byte] = {
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, false)
      val data = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        val s = samples(i)
        data(2 * i) = s.toByte; data(2 * i + 1) = (s >> 8).toByte
      }
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // 64 constant-amplitude blocks of 64 frames -> one envelope cell per
    // block with cell value floor(amp/128) EXACTLY. 54 quiet cells (8),
    // 2 mid (24), 8 loud (200): aHash mean = 32, mid cells BELOW it.
    val cellAmps = Array.fill(64)(1024)
    cellAmps(20) = 3072; cellAmps(43) = 3072
    (0 until 8).foreach(i => cellAmps(i * 8 + 7) = 25600)
    def clip(amps: Array[Int]): Array[Byte] = encode(Array.tabulate(4096) { i =>
      val a = amps(i / 64)
      (if (i % 2 == 0) a else -a).toShort // alternate sign: constant |amp|
    })
    // sqrt companding (an upward compressor / normalizer): monotone on
    // |amplitude|, NON-affine — cell values become 45 / 78 / 226, the new
    // mean is 68, and the mid cells cross it
    def compand(a: Int): Int = math.sqrt(a.toDouble * 32768.0).toInt
    assert(Seq(1024, 3072, 25600).map(a => compand(a) / 128) == Seq(45, 78, 226))
    val base = clip(cellAmps)
    val companded = clip(cellAmps.map(compand))
    val other = clip(cellAmps.reverse)
    val df = Seq((1L, base), (2L, companded), (3L, other)).toDF("id", "payload")
    // aHash: the mid cells flipped across the global mean -> no group
    assert(Multimodal.perceptualDupGroups(df, "id", "payload",
      Multimodal.WavCodec).count() == 0)
    // dHash: monotone gain preserves every pairwise envelope order
    val groups = Multimodal.perceptualDupGroups(df, "id", "payload",
      Multimodal.WavCodec,
      hasher = Multimodal.PerceptualHash.Difference).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("n_copies") == 2L)
    assert(groups(0).getAs[Long]("canonical_id") == 1L)
  }

  test("spectralCells stub: bounded 192-byte window, full band rows, empty payload emits nothing") {
    val head = ("The quick brown fox jumps over the lazy dog. " * 5).take(192)
    val p1 = (head + "tail one after the analysis window").getBytes("UTF-8")
    val p2 = (head + "a completely different suffix beyond 192").getBytes("UTF-8")
    val p3 = ("Entirely different content inside the window " * 5).take(220).getBytes("UTF-8")
    val df = Seq((1L, p1), (2L, p2), (3L, p3), (4L, Array.empty[Byte]))
      .toDF("id", "payload")
    val out = Multimodal.spectralCells(df, "id", "payload")
      .as[(Long, Long, Long)].collect()
    // empty payload: no rows; others: exactly 8 band rows each
    val byId = out.groupBy(_._1)
    assert(!byId.contains(4L))
    assert(byId(1L).length == 8 && byId(2L).length == 8 && byId(3L).length == 8)
    assert(out.forall { case (_, b, c) => b >= 0 && b < 8 && c >= 0 && c <= 255 })
    // the fingerprint reads ONLY the first 192 bytes: p1 and p2 share
    // cells exactly; p3 (different window content) does not
    def cells(id: Long) = byId(id).sortBy(_._2).map(_._3).toSeq
    assert(cells(1L) == cells(2L))
    assert(cells(1L) != cells(3L))
    // the dominant band normalizes to just under 255 (floor divisor)
    assert(cells(1L).max >= 200L)
  }

  test("spectral tier: time-shifted and gain-scaled clips group under spectralView dHash; envelope tier misses the shift") {
    import javax.sound.sampled._
    def encode(samples: Array[Short]): Array[Byte] = {
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, false)
      val data = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        val s = samples(i)
        data(2 * i) = s.toByte; data(2 * i + 1) = (s >> 8).toByte
      }
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // NON-STATIONARY clip: a loud low tone (band 11 of the 64-band
    // ladder f=k/130) in the first half only, a quiet high tone (band
    // 47) throughout. A circular TIME SHIFT moves the loud region to
    // the middle — the energy ENVELOPE (lumaGrid cells) rearranges, but
    // the global spectral content is the same two peaks
    val n = 4096
    def tone(i: Int, f: Double, a: Double): Double =
      a * math.sin(2.0 * math.Pi * f * i)
    def mk(shift: Int, num: Int, den: Int, loBand: Int, hiBand: Int): Array[Short] =
      Array.tabulate(n) { j =>
        val i = (j + shift) % n
        val loud = if (i < n / 2) tone(i, loBand / 130.0, 18000) else 0.0
        val quiet = tone(i, hiBand / 130.0, 3000)
        ((loud + quiet).toInt * num / den).toShort
      }
    val base = encode(mk(0, 1, 1, 12, 48))
    val shifted = encode(mk(1024, 1, 1, 12, 48))
    val gained = encode(mk(0, 1, 2, 12, 48)) // uniform half gain
    // control peaks at DIFFERENT bands (a loud/quiet swap at the same
    // two bands keeps both bands local maxima — invisible to a gradient
    // hash; moving the peaks changes which cells rise above neighbors)
    val other = encode(mk(0, 1, 1, 21, 34))
    val df = Seq((1L, base), (2L, shifted), (3L, gained), (4L, other))
      .toDF("id", "payload")
    // envelope tier (time-domain lumaGrid): the shift rearranges the
    // loud cells, so base and shifted carry DIFFERENT signatures
    val envSigs = Multimodal.perceptualHashes(df, "payload",
        Multimodal.WavCodec,
        hasher = Multimodal.PerceptualHash.Difference)
      .select($"id", $"phash_bits").as[(Long, String)].collect().toMap
    assert(envSigs(1L) != envSigs(2L),
      "envelope dHash should change under the time shift")
    // spectral tier: base, shifted and gained all carry the same
    // band-gradient signature; the swapped-peaks clip does not
    val spec = Multimodal.perceptualDupGroups(df, "id", "payload",
        Multimodal.spectralView(Multimodal.WavCodec),
        hasher = Multimodal.PerceptualHash.Difference).collect()
    assert(spec.length == 1, s"expected one spectral group: ${spec.toSeq}")
    assert(spec(0).getAs[Long]("n_copies") == 3L)
    assert(spec(0).getAs[Long]("canonical_id") == 1L)
  }

  test("aHash invariance property: any within-cell permutation preserves the hash; cross-cell moves change it when sums differ") {
    // seeded generative sweep over payload sizes incl. cell-boundary edge
    // cases (n < 64, n == 64, n % 64 != 0)
    val rnd = new scala.util.Random(41)
    def permuteWithinCells(b: Array[Byte]): Array[Byte] = {
      val n = b.length
      val out = b.clone()
      val cells = (0 until n).groupBy(i => (i.toLong * 64 / n).toInt)
      cells.values.foreach { idxs =>
        val shuffled = rnd.shuffle(idxs.map(b(_)).toVector)
        idxs.zip(shuffled).foreach { case (i, v) => out(i) = v }
      }
      out
    }
    def hashOf(payloads: Seq[Array[Byte]]): Seq[String] = {
      val df = payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("id", "payload")
      Multimodal.perceptualHashes(df, "payload")
        .orderBy("id").select("phash_bits").as[String].collect().toSeq
    }
    val sizes = Seq(1, 7, 63, 64, 65, 128, 301, 1000)
    val payloads = sizes.map { n =>
      Array.tabulate(n)(i => ((rnd.nextInt(26)) + 'a').toByte)
    }
    val permuted = payloads.map(permuteWithinCells)
    assert(hashOf(payloads) == hashOf(permuted))
    // and the hash is NOT trivially constant: a high-contrast payload
    // reversed whole (bytes cross cells) changes it
    val contrast = ("a" * 100 + "z" * 100).getBytes("UTF-8")
    val rev = contrast.reverse
    assert(hashOf(Seq(contrast)) != hashOf(Seq(rev)))
  }

  test("perceptualNearPairs degenerate buckets: same-length shorts collapse to one hash and the cap drops them loudly, not quadratically") {
    // 500 DISTINCT payloads with a provably identical hash: per-doc
    // within-cell flips of "az"-cells (cells 0..8 encode the doc number,
    // every cell's byte multiset is {a, z}) — the whole set lands in ONE
    // band bucket, the measured OOM regime at drill scale. The cap must
    // drop it (no 500²/2 pair expansion).
    def variant(i: Int): String =
      (0 until 64).map(c => if (((i >> (c % 9)) & 1) == 1) "za" else "az")
        .mkString("")
    val shorts = (1 to 500).map(i => (i.toLong, variant(i)))
      .toDF("id", "text")
      .select($"id", Multimodal.fakePayload($"text").as("payload"))
    val pairs = Multimodal.perceptualNearPairs(shorts, "id", "payload",
      maxHamming = 3, maxBucketSize = 100)
    assert(pairs.count() == 0L) // the one degenerate bucket dropped
    // while a genuine near-pair in a healthy bucket still surfaces
    val base = "a" * 32 + "z" * 32
    val near = base.updated(5, 'z')
    val mixed = shorts.unionByName(
      Seq((9001L, base), (9002L, near)).toDF("id", "text")
        .select($"id", Multimodal.fakePayload($"text").as("payload")))
    val got = Multimodal.perceptualNearPairs(mixed, "id", "payload",
        maxHamming = 3, maxBucketSize = 100)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((9001L, 9002L, 1L)))
  }

  test("repetitionProfile: null text rows yield null counts, not a crash") {
    val df = Seq((1L, "a a b"), (2L, null: String)).toDF("doc_id", "text")
    val got = Text.repetitionProfile(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got(0).getLong(1) == 3L)
    // null text -> tokenizer null -> whole profile null (rows survive)
    assert(got(1).isNullAt(1) && got(1).isNullAt(2) && got(1).isNullAt(5))
  }

  test("perceptualHashes stub face matches hand-computed aHash; near-pairs finds the 1-bit neighbor") {
    // 32 'a' (97) + 32 'z' (122): n=64 so each byte is its own cell;
    // threshold = (32*97 + 32*122)/64 = 109 -> bits 0^32 1^32
    val base = "a" * 32 + "z" * 32
    val hashed = Multimodal.perceptualHashes(
        Seq(Tuple1(base)).toDF("text")
          .select(Multimodal.fakePayload($"text").as("payload")),
        "payload")
      .select("phash", "phash_bits").collect().head
    assert(hashed.getString(1) == "0" * 32 + "1" * 32)
    // LSB-first packing: high 32 bits set
    assert(hashed.getLong(0) == 0xFFFFFFFF00000000L)
    // empty payload: no content to hash -> nulls
    val nul = Multimodal.perceptualHashes(
        Seq(Tuple1("")).toDF("text")
          .select(Multimodal.fakePayload($"text").as("payload")),
        "payload").collect().head
    assert(nul.isNullAt(1) && nul.isNullAt(2))
    // flipping byte 5 to 'z' moves one cell over the threshold: hamming 1
    val near = base.updated(5, 'z')
    val far = "a" * 64 // all below threshold -> hamming 32 from base
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "text")
      .select($"id", Multimodal.fakePayload($"text").as("payload"))
    val pairs = Multimodal.perceptualNearPairs(df, "id", "payload",
        maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 1L)))
  }

  test("dHash tier: a gamma-edited PNG copy groups under Difference but not Average; order invariance is exact") {
    import java.awt.image.BufferedImage
    // 64x64 gray image of 8x8 uniform blocks: one block per lumaGrid(8)
    // cell, and Rec.601 luma of gray (v,v,v) is exactly v — so the cell
    // values ARE the block values below. 54 dark cells (10), 2 mid (30),
    // 8 bright (250): base mean = 40, so the mid cells sit BELOW it.
    val cellVals = Array.fill(64)(10)
    cellVals(20) = 30; cellVals(43) = 30
    (0 until 8).foreach(i => cellVals(i * 8 + 7) = 250)
    def img(vals: Array[Int]): Array[Byte] = {
      val im = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = vals((y / 8) * 8 + (x / 8))
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    // gamma 0.5 (a brightness lift): monotone, NON-affine — 10->50,
    // 30->87, 250->252; the new mean is 76, so the mid cells cross it
    def gamma(v: Int): Int = math.sqrt(v.toDouble * 255.0).toInt
    assert(Seq(10, 30, 250).map(gamma) == Seq(50, 87, 252))
    val base = img(cellVals)
    val edited = img(cellVals.map(gamma))
    val other = img(cellVals.reverse) // genuinely different picture
    val df = Seq((1L, base), (2L, edited), (3L, other)).toDF("id", "payload")
    // aHash: the mid cells flipped across the global mean -> no group
    assert(Multimodal.perceptualDupGroups(df, "id", "payload",
      Multimodal.ImageIOCodec).count() == 0)
    // dHash compares neighbors, and a monotone map preserves every
    // pairwise order -> the edited copy groups with the base
    val groups = Multimodal.perceptualDupGroups(df, "id", "payload",
      Multimodal.ImageIOCodec,
      hasher = Multimodal.PerceptualHash.Difference).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("n_copies") == 2L)
    assert(groups(0).getAs[Long]("canonical_id") == 1L)
    // hand-check the bit construction on a tiny 2x2 grid:
    // rows (5, 9) and (7, 7): bits = 5<9, 9<5(wrap), 7<7, 7<7 = 1,0,0,0
    assert(Multimodal.differenceHashBits(Array(5, 9, 7, 7)).toSeq ==
      Seq(1, 0, 0, 0))
    // near-pairs accepts the hash choice: base and its gamma edit are
    // hamming-0 neighbors under Difference
    val pairs = Multimodal.perceptualNearPairs(df, "id", "payload",
        Multimodal.ImageIOCodec, maxHamming = 3,
        hasher = Multimodal.PerceptualHash.Difference)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L, 0L)))
  }

  test("pHash (DCT): invariances, and rescale/recompress robustness aHash/dHash lack") {
    import Multimodal._
    def ham(a: Array[Int], b: Array[Int]) = a.zip(b).count { case (x, y) => x != y }
    def clamp(x: Int) = math.max(0, math.min(255, x))
    // natural-image-like scene: 1/f amplitude over every 8x8 block
    // frequency (pHash's robustness claim is conditional on this spectrum
    // shape — all low-frequency coefficients sizable, which real photos
    // have), rendered to a 64k-byte payload with per-byte texture noise
    def lowf(r: Int, c: Int): Int = {
      var s = 128.0
      for (u <- 0 to 7; v <- 0 to 7; if u + v > 0) {
        val amp = 60.0 / (1 + u + v)
        val ph = (u * 31 + v * 17) % 7 - 3
        s += amp * math.signum(ph + 0.5) *
          math.cos(math.Pi * u * (2 * r + 1) / 64.0) *
          math.cos(math.Pi * v * (2 * c + 1) / 64.0)
      }
      s.round.toInt
    }
    val n = 65536
    val base = Array.tabulate(n) { i =>
      val s = (i.toLong * 1024 / n).toInt
      clamp(lowf(s / 32, s % 32) + ((i * 2654435761L) % 9 - 4).toInt).toByte
    }
    val g0 = StubCodec.lumaGrid(base, 32).get
    val (a0, d0, p0) = (averageHashBits(g0), differenceHashBits(g0), dctHashBits(g0))
    // RESCALE (nearest-neighbor downsample 64k -> 9k: cell contents
    // re-binned, per-cell noise no longer averages away): the mean and
    // adjacent-gradient hashes read single perturbed cells and flip;
    // the 8x8 DCT cut integrates 1024 cells per coefficient, so the
    // per-cell noise cancels (measured 0 of 64 vs 8/32 of 1024)
    val resc = Array.tabulate(9000)(i => base(((i.toLong * n) / 9000).toInt))
    val g1 = StubCodec.lumaGrid(resc, 32).get
    assert(ham(p0, dctHashBits(g1)) <= 2)
    assert(ham(a0, averageHashBits(g1)) >= 5)
    assert(ham(d0, differenceHashBits(g1)) >= 20)
    // RECOMPRESSION residual (blocky high-frequency checkerboard — the
    // classic block-codec artifact): pure (31,31)-frequency content,
    // OUTSIDE the 8x8 block pHash keeps, so pHash is blind to it while
    // both cell-reading hashes flip en masse (measured 0 vs 60/413)
    val recomp = Array.tabulate(n) { i =>
      val s = (i.toLong * 1024 / n).toInt
      val tex = if ((s / 32 + s % 32) % 2 == 0) 6 else -6
      clamp(lowf(s / 32, s % 32) + tex +
        ((i * 2654435761L) % 9 - 4).toInt).toByte
    }
    val g2 = StubCodec.lumaGrid(recomp, 32).get
    assert(ham(p0, dctHashBits(g2)) == 0)
    assert(ham(a0, averageHashBits(g2)) >= 30)
    assert(ham(d0, differenceHashBits(g2)) >= 200)
    // exact invariances: brightness shift moves only the DC coefficient
    // (excluded by construction); positive contrast scale multiplies
    // every AC coefficient AND the median by the same factor
    assert(ham(p0, dctHashBits(g0.map(_ + 30))) == 0)
    assert(ham(p0, dctHashBits(g0.map(_ * 2))) == 0)
    // constant grid: every AC coefficient is 0, threshold 0, strict >
    // leaves all 64 bits 0 (DC bit is 0 by construction)
    assert(dctHashBits(Array.fill(1024)(77)).sum == 0)
    // grouping face: the DCT hasher plugs into perceptualDupGroups at
    // grid 32 — byte-identical copies group, the recompressed copy
    // groups by NEAR-pair banding (hamming 0 here), the q216 pipeline
    val df = Seq((1L, base), (2L, base.clone()), (3L, recomp))
      .toDF("id", "payload")
    val groups = perceptualDupGroups(df, "id", "payload", grid = 32,
      hasher = PerceptualHash.Dct).collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("n_copies") == 3L)
  }

  test("report ops: degenerate inputs (empty frames, single group, no delimiter)") {
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    // empty corpus: every gate reports 0 in / 0 out (total coalesces to 0)
    val funnel = Text.gateFunnel(empty, Seq(
        "min_tokens" -> (Text.tokenCount($"text") >= 3),
        "lang_en" -> ($"lang" === "en")))
      .select($"gate_idx", $"n_in", $"n_out")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(funnel == Seq((0L, 0L, 0L), (1L, 0L, 0L)))
    // single source: divergence matrix has no pairs
    val one = Seq(("A", "x y z")).toDF("source", "text")
    assert(Text.sourceDivergence(one, "source", "text").count() == 0L)
    // no sentence delimiter: the whole text is one kept sentence
    val nodelim = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val r = Dedup.dedupSentencesKeepFirst(nodelim, "doc_id", "text").head()
    assert(r.getAs[Long]("n_sents") == 1L && r.getAs[Long]("n_kept") == 1L)
    assert(r.getAs[String]("clean_text") == "alpha beta gamma")
    // empty embedding set: cell balance is empty, not a crash
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.ivfCellBalance(noVecs, "embedding", "vec_id",
      cents, "vec_id", "embedding").count() == 0L)
  }

  test("lengthQuantiles: interpolated quartiles over integer token counts") {
    val df = Seq(
      (1L, "a", "A"), (2L, "a b", "A"), (3L, "a b c", "A"), (4L, "a b c d", "A"))
      .toDF("doc_id", "text", "source")
    val r = Text.lengthQuantiles(df, "source", "text").head()
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("total_tokens") == 10L)
    // quantile_cont over [1,2,3,4]: linear interpolation at h = p*(n-1)
    assert(r.getAs[Double]("p25") == 1.75)
    assert(r.getAs[Double]("p50") == 2.5)
    assert(r.getAs[Double]("p75") == 3.25)
    assert(math.abs(r.getAs[Double]("p95") - 3.85) < 1e-12)
  }

  test("kAnonymityAudit: size classes, k-cap, null quasi values, ppm accounting") {
    // group sizes by quasi tuple: 1, 1, 2, 3, 5, 7 -> classes 1/2/3/5
    val rows =
      Seq(("a", 1L), ("b", 2L)) ++            // two singletons
      Seq.fill(2)(("c", 3L)) ++               // one pair
      Seq.fill(3)(("d", 4L)) ++               // one triple
      Seq.fill(5)(("e", 5L)) ++ Seq.fill(7)(("f", 6L))  // two >= k groups
    val out = Stats.kAnonymityAudit(rows.toDF("q1", "q2"), Seq("q1", "q2"), k = 5)
      .collect().map(r => r.getAs[Long]("size_class") -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 5L))
    assert(out(1L).getAs[Long]("n_groups") == 2L && out(1L).getAs[Long]("n_rows") == 2L)
    assert(out(2L).getAs[Long]("n_groups") == 1L && out(2L).getAs[Long]("n_rows") == 2L)
    assert(out(3L).getAs[Long]("n_groups") == 1L && out(3L).getAs[Long]("n_rows") == 3L)
    // the k class absorbs everything at or above k
    assert(out(5L).getAs[Long]("n_groups") == 2L && out(5L).getAs[Long]("n_rows") == 12L)
    assert(out(1L).getAs[Long]("rows_ppm") == 2L * 1000000L / 19L)
    assert(out.values.map(_.getAs[Long]("n_rows")).sum == 19L)
    // NULL is a quasi value: two null-q1 rows form ONE group of size 2
    val withNull = Seq((null.asInstanceOf[String], 1L),
      (null.asInstanceOf[String], 1L), ("x", 1L)).toDF("q1", "q2")
    val nOut = Stats.kAnonymityAudit(withNull, Seq("q1", "q2"), k = 3)
      .collect().map(r => r.getAs[Long]("size_class") -> r).toMap
    assert(nOut(2L).getAs[Long]("n_groups") == 1L)
    assert(nOut(1L).getAs[Long]("n_rows") == 1L)
  }

  test("lDiversityAudit: diversity classes, l-cap, duplicate sensitive values collapse, homogeneous group flagged") {
    // quasi group "a": 4 rows, ONE sensitive value -> class 1 (the
    // homogeneity disclosure even though it clears k=4 anonymity);
    // "b": 3 rows, 2 distinct values -> class 2;
    // "c": 5 rows, 4 distinct values -> capped at class l=3
    val rows =
      Seq.fill(4)(("a", "s1")) ++
      Seq(("b", "s1"), ("b", "s1"), ("b", "s2")) ++
      Seq(("c", "s1"), ("c", "s2"), ("c", "s3"), ("c", "s4"), ("c", "s4"))
    val out = Stats.lDiversityAudit(rows.toDF("q", "s"), Seq("q"), "s", l = 3)
      .collect().map(r => r.getAs[Long]("diversity_class") -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L).getAs[Long]("n_groups") == 1L && out(1L).getAs[Long]("n_rows") == 4L)
    assert(out(2L).getAs[Long]("n_groups") == 1L && out(2L).getAs[Long]("n_rows") == 3L)
    assert(out(3L).getAs[Long]("n_groups") == 1L && out(3L).getAs[Long]("n_rows") == 5L)
    assert(out(1L).getAs[Long]("rows_ppm") == 4L * 1000000L / 12L)
    // sensitive NULL is a value: a group of {null, null} is class 1
    val withNull = Seq(("a", null.asInstanceOf[String]),
      ("a", null.asInstanceOf[String]), ("b", "x"), ("b", null.asInstanceOf[String]))
      .toDF("q", "s")
    val nOut = Stats.lDiversityAudit(withNull, Seq("q"), "s", l = 2)
      .collect().map(r => r.getAs[Long]("diversity_class") -> r).toMap
    assert(nOut(1L).getAs[Long]("n_rows") == 2L)
    assert(nOut(2L).getAs[Long]("n_rows") == 2L)
  }

  test("tClosenessAudit: hand-computed TV incl. absent-value mass; balanced group lands in band 0") {
    // a: point mass on s1; b: point mass on s2; c: the global mix.
    // global = {s1: 5, s2: 5}, n = 10. a's TV: present |4*10 - 5*4| = 20,
    // absent s2 mass 4*(10-5) = 20 -> (20+20)*1e6 / (2*4*10) = 500000.
    // b symmetric; c matches the global exactly -> 0.
    val rows = Seq.fill(4)(("a", "s1")) ++ Seq.fill(4)(("b", "s2")) ++
      Seq(("c", "s1"), ("c", "s2"))
    val out = Stats.tClosenessAudit(rows.toDF("q", "s"), Seq("q"), "s",
        Seq(300000L))
      .collect().map(r => r.getAs[Long]("band") -> r).toMap
    assert(out.keySet == Set(0L, 1L))
    assert(out(0L).getAs[Long]("n_groups") == 1L &&
      out(0L).getAs[Long]("n_rows") == 2L &&
      out(0L).getAs[Long]("max_tv_ppm") == 0L)
    assert(out(1L).getAs[Long]("n_groups") == 2L &&
      out(1L).getAs[Long]("n_rows") == 8L &&
      out(1L).getAs[Long]("max_tv_ppm") == 500000L)
    assert(out(1L).getAs[Long]("rows_ppm") == 800000L)
  }

  test("dpNoisyCounts: exact-rational inverse-CDF replay, geometric shape, clamp, determinism, seed sensitivity") {
    // 2000 groups of known count 3 -> the noise distribution is readable
    // from the released values
    val df = (0 until 2000).flatMap(g => Seq.fill(3)(g.toLong)).toDF("g")
    val out = Stats.dpNoisyCounts(df, Seq("g"), seed = 42L)
      .collect().map(r => r.getAs[Long]("g") -> r.getAs[Long]("noisy_count")).toMap
    assert(out.size == 2000)
    val noise = out.values.map(_ - 3L).toSeq
    // clamp: |noise| <= 32 (release floors at 0, so observed >= -3)
    assert(noise.forall(n => n >= -3L && n <= 32L))
    // geometric with alpha=1/2: P(0) = 1/3, P(|n|<=1) = 2/3 — wide bands
    val p0 = noise.count(_ == 0L).toDouble / noise.size
    assert(p0 > 0.28 && p0 < 0.39, s"P(noise=0) = $p0")
    val p1 = noise.count(n => math.abs(n) <= 1L).toDouble / noise.size
    assert(p1 > 0.61 && p1 < 0.72, s"P(|noise|<=1) = $p1")
    assert(math.abs(noise.sum.toDouble / noise.size) < 0.2) // mean ~ 0
    // independent replay of one group's release: BigInt thresholds +
    // the same md5 uniform, computed with a DIFFERENT spelling
    val two60 = BigInt(1) << 60
    val ts = DpReplay.thresholds
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("7\u000142".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val u = java.lang.Long.parseLong(md.take(15), 16)
    val expected = math.max(3L + ts.count(_ <= u) - 32L, 0L)
    assert(out(7L) == expected)
    // deterministic across partitionings; different seed -> different noise
    val again = Stats.dpNoisyCounts(df.repartition(7), Seq("g"), seed = 42L)
      .collect().map(r => r.getAs[Long]("g") -> r.getAs[Long]("noisy_count")).toMap
    assert(again == out)
    val other = Stats.dpNoisyCounts(df, Seq("g"), seed = 43L)
      .collect().map(r => r.getAs[Long]("g") -> r.getAs[Long]("noisy_count")).toMap
    assert(other != out)
    // NULL group keys release like any other group (sentinel-coalesced)
    val withNull = Seq(Some(1L), None, None, Some(1L)).toDF("g")
    val nOut = Stats.dpNoisyCounts(withNull, Seq("g"), seed = 1L).collect()
    assert(nOut.length == 2)
  }

  test("dpNoisySums: clamp semantics (over-C, negative, NULL), lattice support, ':sum' tag independence") {
    // group "a": values 100, 25000 (clamps to 20000), -5 (clamps to 0),
    // NULL (contributes 0) -> clamped truth 20100
    val rows = Seq(("a", Some(100L)), ("a", Some(25000L)), ("a", Some(-5L)),
      ("a", None), ("b", Some(7L)))
    val df = rows.toDF("g", "v")
    val out = Stats.dpNoisySums(df, Seq("g"), "v", clampC = 20000L, seed = 5L)
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Long]("noisy_sum")).toMap
    val truth = Map("a" -> 20100L, "b" -> 7L)
    for ((g, rel) <- out) {
      // lattice-leak regression (ADVICE r12 high): EVERY release lands on
      // the same public support C·Z regardless of the true sum mod C —
      // un-quantized C-scaled noise kept releases on truth + C·Z, which
      // revealed the clamped sum modulo C with certainty. "a" (truth
      // 20100) and "b" (truth 7) have different residues mod C; both
      // must release multiples of C.
      assert(rel % 20000L == 0L, s"$g: release off the C-lattice: $rel")
      // quantization bias <= C/2 plus the +/-32-step noise clamp
      val d = rel - truth(g)
      assert(math.abs(d) <= 10000L + 32L * 20000L, s"$g: $rel")
    }
    // round-half-up quantization replay: a -> (2*20100+20000) DIV 40000
    // = 1 lattice step; b -> 0. Release = C * max(step + noise, 0).
    def noiseOf(key: String, tag: String): Long = {
      val two60 = BigInt(1) << 60
      val ts = DpReplay.thresholds
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest((key + "\u0001" + "5:" + tag).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val u = java.lang.Long.parseLong(md.take(15), 16)
      ts.count(_ <= u) - 32L
    }
    assert(out("a") == 20000L * math.max(1L + noiseOf("a", "sum"), 0L))
    assert(out("b") == 20000L * math.max(0L + noiseOf("b", "sum"), 0L))
    // public domain: off-domain "b" is dropped, absent "c" releases the
    // lattice point of sum 0 + noise — the membership-hiding face
    val domOut = Stats.dpNoisySums(df, Seq("g"), "v", clampC = 20000L,
        seed = 5L, domain = Some(Seq("a", "c").toDF("g")))
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Long]("noisy_sum")).toMap
    assert(domOut.keySet == Set("a", "c"))
    assert(domOut("a") == out("a"))
    assert(domOut("c") == 20000L * math.max(0L + noiseOf("c", "sum"), 0L))
    // the ':sum' tag decouples the sum release from the count release of
    // the SAME groups and seed: over many groups the noise draws differ
    val many = (0 until 500).flatMap(g => Seq.fill(2)((g.toLong, 1L))).toDF("g", "v")
    val sums = Stats.dpNoisySums(many, Seq("g"), "v", clampC = 1L, seed = 9L)
      .collect().map(r => r.getAs[Long]("g") -> (r.getAs[Long]("noisy_sum") - 2L)).toMap
    val cnts = Stats.dpNoisyCounts(many, Seq("g"), seed = 9L)
      .collect().map(r => r.getAs[Long]("g") -> (r.getAs[Long]("noisy_count") - 2L)).toMap
    assert((0 until 500).count(g => sums(g.toLong) != cnts(g.toLong)) > 200)
    // deterministic across partitionings
    val again = Stats.dpNoisySums(df.repartition(5), Seq("g"), "v",
        clampC = 20000L, seed = 5L)
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Long]("noisy_sum")).toMap
    assert(again == out)
  }

  test("dpMedian: exact exponential-mechanism replay over the public grid, concentration, determinism, seed sensitivity") {
    // hand ladder for group "a": data 1(x1), 5(x3), 9(x1), n=5, public
    // grid 0..10 step 1. Utilities u = |2cum+c-n| at each CANDIDATE:
    // 0->5, 1->4, 2..4->3, 5->0 (true median), 6..8->3, 9->4, 10->5;
    // weights 2^(32-min(u,32)) -- ABSOLUTE clamp, no per-group-best term
    val rows = Seq(("a", 1L)) ++ Seq.fill(3)(("a", 5L)) ++ Seq(("a", 9L))
    val df = rows.toDF("g", "v")
    val out = Stats.dpMedian(df, Seq("g"), "v", seed = 3L,
        candLo = 0L, candHi = 10L, candStep = 1L)
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Long]("released_median")).toMap
    // independent replay: BigInt ladder + the same md5 uniform
    def u60(key: String, tag: String): BigInt = BigInt(java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$key\u0001${3L}:$tag".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15), 16))
    val us = Seq(5, 4, 3, 3, 3, 0, 3, 3, 3, 4, 5)
    val ws = us.zipWithIndex.map { case (u, v) => (v.toLong, BigInt(1) << (32 - u)) }
    val tw = ws.map(_._2).sum
    val tgt = u60("a", "med") * tw / (BigInt(1) << 60)
    val cum = ws.scanLeft(BigInt(0))(_ + _._2).tail
    val expected = ws(cum.indexWhere(_ > tgt))._1
    assert(out("a") == expected)
    // concentration: with a steep ladder (n large) the sampled value is
    // the true median for (almost) any seed -- check 20 seeds
    val steep = ((1 to 200).map(i => ("s", (i % 5).toLong * 10)) ++
      Seq.fill(400)(("s", 20L))).toDF("g", "v")
    val hits = (1 to 20).count { sd =>
      Stats.dpMedian(steep, Seq("g"), "v", seed = sd.toLong,
          candLo = 0L, candHi = 40L, candStep = 10L)
        .head().getAs[Long]("released_median") == 20L
    }
    assert(hits >= 18, s"concentration failed: $hits/20")
    // released values are always GRID values; deterministic across
    // partitionings; seed-sensitive across many near-flat groups
    val flat = (0 until 300).flatMap(g =>
      (1 to 6).map(v => (g.toLong, v.toLong))).toDF("g", "v")
    val r1 = Stats.dpMedian(flat, Seq("g"), "v", seed = 1L,
        candLo = 1L, candHi = 6L, candStep = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r1b = Stats.dpMedian(flat.repartition(7), Seq("g"), "v", seed = 1L,
        candLo = 1L, candHi = 6L, candStep = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r2 = Stats.dpMedian(flat, Seq("g"), "v", seed = 2L,
        candLo = 1L, candHi = 6L, candStep = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == r1b)
    assert(r1.values.forall(v => v >= 1L && v <= 6L))
    assert(r1 != r2)
    // near-flat even-n ladder: both central values (3, 4) dominate the
    // draw (they tie at the best utility)
    val central = r1.values.count(v => v == 3L || v == 4L)
    assert(central > 200, s"central mass: $central/300")
  }

  test("dpMedian: observed-support leak regression -- off-grid data values are never released (ADVICE r12)") {
    // the naive mechanism sampled the group's OBSERVED distinct values,
    // so a release could disclose that a value occurs in the data; the
    // public-grid mechanism's support is data-INDEPENDENT. Data sits
    // entirely off-grid (odd values 15 and 19, 25 rows each; grid = even
    // 0..100 step 2): every release across 30 seeds must be an even grid
    // point — 15 and 19 themselves are never releasable — and the grid
    // points 16/18 between the two masses carry rank distance 0, so they
    // dominate the draw.
    val odd = ((0 until 25).map(_ => ("g", 15L)) ++
      (0 until 25).map(_ => ("g", 19L))).toDF("g", "v")
    val rel = (1 to 30).map { sd =>
      Stats.dpMedian(odd, Seq("g"), "v", seed = sd.toLong,
          candLo = 0L, candHi = 100L, candStep = 2L)
        .head().getAs[Long]("released_median")
    }
    assert(rel.forall(v => v % 2L == 0L && v >= 0L && v <= 100L),
      s"off-grid release: $rel")
    assert(rel.count(v => v == 16L || v == 18L) >= 28, s"concentration: $rel")
    // all-NULL group edge: no data ladder rows -> absent from the
    // release (group keys come from the data; the scaladoc documents
    // the key-domain caveat)
    val mixed = Seq(("a", Some(4L)), ("b", Option.empty[Long])).toDF("g", "v")
    val m = Stats.dpMedian(mixed, Seq("g"), "v", seed = 1L,
      candLo = 0L, candHi = 10L, candStep = 1L).collect()
    assert(m.map(_.getString(0)).toSeq == Seq("a"))
    // public group domain: off-domain groups drop, absent groups get a
    // grid-only ladder (n = 0 -> every candidate at utility 0, a uniform
    // grid draw) — the release universe no longer leaks membership
    val dm = Stats.dpMedian(mixed, Seq("g"), "v", seed = 1L,
        candLo = 0L, candHi = 10L, candStep = 1L,
        domain = Some(Seq("a", "zzz").toDF("g")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dm.keySet == Set("a", "zzz"))
    assert(dm("zzz") >= 0L && dm("zzz") <= 10L)
    // determinism of the absent-group draw across partitionings
    val dm2 = Stats.dpMedian(mixed.repartition(3), Seq("g"), "v", seed = 1L,
        candLo = 0L, candHi = 10L, candStep = 1L,
        domain = Some(Seq("a", "zzz").toDF("g")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dm2 == dm)
  }

  test("dpHistogram: per-bin geometric replay, empty and absent cells release, public group domain") {
    // groups a (4 rows) / b (1 row); boundaries [0, 10] -> bins 0 (<0),
    // 1 ([0,10)), 2 (>=10). a: -5 -> bin0, 3,7 -> bin1, 15 -> bin2
    val df = Seq(("a", -5L), ("a", 3L), ("a", 7L), ("a", 15L), ("b", 3L))
      .toDF("g", "v")
    val dom = Seq("a", "b", "c").toDF("g") // "c" absent -> all-noise bins
    val out = Stats.dpHistogram(df, Seq("g"), "v", Seq(0L, 10L), seed = 4L,
        domain = Some(dom))
      .collect().map(r => (r.getString(0), r.getAs[Long]("bin")) ->
        r.getAs[Long]("noisy_count")).toMap
    assert(out.keySet == (for (g <- Seq("a", "b", "c"); b <- 0L to 2L)
      yield (g, b)).toSet)
    // independent replay of every cell: key = g \u0001 bin \u0001 "4:hist"
    val two60 = BigInt(1) << 60
    val ts = DpReplay.thresholds
    val truth = Map(("a", 0L) -> 1L, ("a", 1L) -> 2L, ("a", 2L) -> 1L,
      ("b", 1L) -> 1L).withDefaultValue(0L)
    for (((g, b), rel) <- out) {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest((g + "\u0001" + b + "\u0001" + "4:hist").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val u = java.lang.Long.parseLong(md.take(15), 16)
      val want = math.max(truth((g, b)) + ts.count(_ <= u) - 32L, 0L)
      assert(rel == want, s"cell ($g, $b): $rel != $want")
    }
    // determinism across partitionings
    val again = Stats.dpHistogram(df.repartition(3), Seq("g"), "v",
        Seq(0L, 10L), seed = 4L, domain = Some(dom))
      .collect().map(r => (r.getString(0), r.getAs[Long]("bin")) ->
        r.getAs[Long]("noisy_count")).toMap
    assert(again == out)
  }

  test("DpBudget: exact BigInt loss-factor ledger, loud exhaustion before any release, fresh per-release seeds") {
    val df = Seq("a", "a", "b").toDF("g")
    val vdf = Seq(("a", 5L), ("a", 7L), ("b", 2L)).toDF("g", "v")
    // budget e^eps <= 2^6 (eps = 6 ln 2); count+sum+median+histogram
    // spend 1+1+2+1 = 5 ln 2 -> factor 32; one more median (2 ln 2)
    // would reach 2^7 > 2^6 and must throw without releasing
    val budget = new graft.functions.DpBudget(BigInt(2).pow(6), baseSeed = 100L)
    val c1 = budget.noisyCounts(df, Seq("g"))
    budget.noisySums(vdf, Seq("g"), "v", clampC = 10L)
    budget.median(vdf, Seq("g"), "v", candLo = 0L, candHi = 10L, candStep = 1L)
    budget.histogram(vdf, Seq("g"), "v", boundaries = Seq(0L, 5L))
    assert(budget.spentFactor == BigInt(32))
    assert(budget.releases.map(_._1) ==
      Seq("count", "sum", "median", "histogram"))
    val ex = intercept[IllegalStateException] {
      budget.median(vdf, Seq("g"), "v", candLo = 0L, candHi = 10L, candStep = 1L)
    }
    assert(ex.getMessage.contains("DP budget exhausted"))
    assert(budget.spentFactor == BigInt(32)) // nothing charged on failure
    // a release within budget still works after a rejected one
    budget.noisyCounts(df, Seq("g"))
    assert(budget.spentFactor == BigInt(64))
    // per-release seeds are fresh: the first budget release equals the
    // raw primitive at seed baseSeed+1, and a second accountant count
    // of the same data (different idx) draws different noise over many
    // groups
    val raw = Stats.dpNoisyCounts(df, Seq("g"), seed = 101L).collect().toSeq
    assert(c1.collect().toSeq == raw)
    val many = (0 until 400).map(_.toLong).toDF("g")
    val b2 = new graft.functions.DpBudget(BigInt(2).pow(10), baseSeed = 7L)
    val r1 = b2.noisyCounts(many, Seq("g"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r2 = b2.noisyCounts(many, Seq("g"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 until 400).count(g => r1(g.toLong) != r2(g.toLong)) > 150)
  }

  test("dpNoisyCounts: public domain releases every domain key (absent ones noise-only) and drops off-domain groups") {
    val df = Seq("a", "a", "a", "b").toDF("g")
    val dom = Seq("a", "c").toDF("g") // "b" observed but NOT public; "c" absent
    val out = Stats.dpNoisyCounts(df, Seq("g"), seed = 11L, domain = Some(dom))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("noisy_count")).toMap
    assert(out.keySet == Set("a", "c"), s"release universe: ${out.keySet}")
    // replay both: "a" count 3, "c" count 0 (noise-only, floored at 0)
    val two60 = BigInt(1) << 60
    val ts = DpReplay.thresholds
    def rep(key: String, n: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$key\u000111".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val u = java.lang.Long.parseLong(md.take(15), 16)
      math.max(n + ts.count(_ <= u) - 32L, 0L)
    }
    assert(out("a") == rep("a", 3L))
    assert(out("c") == rep("c", 0L))
    // determinism across partitionings with the domain join in the plan
    val again = Stats.dpNoisyCounts(df.repartition(5), Seq("g"), seed = 11L,
        domain = Some(dom.repartition(2)))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("noisy_count")).toMap
    assert(again == out)
  }

  test("tClosenessAudit: NULL quasi groups report and NULL sensitive counts as a present value") {
    // global = {s1: 3, NULL: 3}, n = 6. Group q=NULL (2x s1):
    // present |2*6 - 3*2| = 6, absent 2*(6-3) = 6 -> tv = 12e6/24 = 500000.
    // Group a (2x NULL-sensitive): symmetric -> 500000. Group b (one of
    // each) matches the global mix -> 0. A null-UNSAFE marginal join
    // would drop the q=NULL group and misplace the NULL-sensitive mass.
    val rows = Seq(
      (null.asInstanceOf[String], "s1"), (null.asInstanceOf[String], "s1"),
      ("a", null.asInstanceOf[String]), ("a", null.asInstanceOf[String]),
      ("b", "s1"), ("b", null.asInstanceOf[String]))
    val out = Stats.tClosenessAudit(rows.toDF("q", "s"), Seq("q"), "s",
        Seq(300000L))
      .collect().map(r => r.getAs[Long]("band") -> r).toMap
    assert(out.keySet == Set(0L, 1L))
    assert(out(0L).getAs[Long]("n_groups") == 1L &&
      out(0L).getAs[Long]("n_rows") == 2L &&
      out(0L).getAs[Long]("max_tv_ppm") == 0L)
    assert(out(1L).getAs[Long]("n_groups") == 2L &&
      out(1L).getAs[Long]("n_rows") == 4L &&
      out(1L).getAs[Long]("max_tv_ppm") == 500000L)
  }

  test("compressionProfile: repetitive text compresses far below prose, random far above; deterministic") {
    val rnd = new scala.util.Random(42)
    val docs = Seq(
      (1L, "ab" * 2000),                                     // repetitive
      (2L, Seq.fill(80)("the quick brown fox jumps over a lazy dog near the river bank at dawn").mkString(" ")), // prose-ish but repeated sentence
      (3L, Array.fill(4000)(rnd.nextPrintableChar()).mkString), // random
      (4L, ""), (5L, null.asInstanceOf[String]))
    val out = Text.compressionProfile(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("raw_bytes"), r.getAs[Long]("comp_bytes"),
          r.getAs[Long]("ratio_ppm"))).toMap
    assert(out(1L)._3 < 30000L, s"repetitive ratio ${out(1L)._3}")   // < 3%
    assert(out(3L)._3 > 700000L, s"random ratio ${out(3L)._3}")      // > 70%
    assert(out(1L)._3 < out(2L)._3 && out(2L)._3 < out(3L)._3)
    assert(out(4L) == (0L, 0L, 1000000L) && out(5L) == (0L, 0L, 1000000L))
    assert(out(1L)._1 == 4000L)
    // deterministic across runs and partitionings
    val again = Text.compressionProfile(
      docs.toDF("doc_id", "text").repartition(3), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("raw_bytes"), r.getAs[Long]("comp_bytes"),
          r.getAs[Long]("ratio_ppm"))).toMap
    assert(again == out)
  }

  test("dependencyAudit: FD detection, independence -> tv 0, hand-computed TV, null category") {
    // b = f(a): fd a->b exact; counts (x,p)x4, (y,q)x6
    val fd = (Seq.fill(4)(("x", "p")) ++ Seq.fill(6)(("y", "q"))).toDF("a", "b")
    val r1 = Stats.dependencyAudit(fd, Seq(("a", "b"))).collect().head
    assert(r1.getAs[Long]("n") == 10L && r1.getAs[Long]("ndv_ab") == 2L)
    assert(r1.getAs[Long]("fd_ab_ppm") == 1000000L)
    assert(r1.getAs[Long]("fd_ba_ppm") == 1000000L) // here b determines a too
    // hand TV: joint {.4,.6}, product {.16,.24,.24,.36} -> TV = .48
    assert(r1.getAs[Long]("tv_ppm") == 480000L)
    // independent uniform 2x2 -> tv exactly 0, no FD either way
    val ind = (for { a <- Seq("x", "y"); b <- Seq("p", "q"); _ <- 1 to 5 }
      yield (a, b)).toDF("a", "b")
    val r2 = Stats.dependencyAudit(ind, Seq(("a", "b"))).collect().head
    assert(r2.getAs[Long]("tv_ppm") == 0L)
    assert(r2.getAs[Long]("ndv_ab") == 4L)
    assert(r2.getAs[Long]("fd_ab_ppm") == 2L * 1000000L / 4L)
    // NULL is a category: (null, p) and (null, q) are two joint cells
    val wn = Seq((null.asInstanceOf[String], "p"), (null.asInstanceOf[String], "q"),
      ("x", "p")).toDF("a", "b")
    val r3 = Stats.dependencyAudit(wn, Seq(("a", "b"))).collect().head
    assert(r3.getAs[Long]("ndv_a") == 2L && r3.getAs[Long]("ndv_ab") == 3L)
    // multiple pairs -> one row each, labeled
    val multi = Stats.dependencyAudit(fd.withColumn("c", F.lit("z")),
      Seq(("a", "b"), ("a", "c"))).collect()
    assert(multi.map(r => (r.getAs[String]("a_col"), r.getAs[String]("b_col"))).toSet ==
      Set(("a", "b"), ("a", "c")))
  }

  test("dependencyAudit: joint-cell cap fails loudly on a near-unique column; exact below the cap") {
    // a near-unique column (every row its own id) makes the joint table
    // corpus-sized — the guard must trip BEFORE any marginal join runs
    val nearUnique = (1 to 50).map(i => (s"id$i", s"b${i % 3}")).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Stats.dependencyAudit(nearUnique, Seq(("a", "b")), maxJointCells = 20L)
        .collect()
    }
    assert(e.getMessage.contains("joint cells > cap"), e.getMessage)
    assert(e.getMessage.contains("(a, b)"), e.getMessage)
    // the SAME data under a sufficient cap still audits exactly: 50 joint
    // cells, a determines b (each id maps to one bucket)
    val ok = Stats.dependencyAudit(nearUnique, Seq(("a", "b")),
      maxJointCells = 50L).collect().head
    assert(ok.getAs[Long]("ndv_ab") == 50L)
    assert(ok.getAs[Long]("fd_ab_ppm") == 1000000L)
  }

  test("dependencyAudit: assumeUnderCap == default path; false assertion fails loudly") {
    val fd = (Seq.fill(4)(("x", "p")) ++ Seq.fill(6)(("y", "q"))).toDF("a", "b")
    val dflt = Stats.dependencyAudit(fd, Seq(("a", "b"))).collect().head
    val fast = Stats.dependencyAudit(fd, Seq(("a", "b")),
      assumeUnderCap = true).collect().head
    assert(fast == dflt)
    // a false assertion must still fail loudly (verified inside the
    // grouping-sets job via the full-tuple set)
    val nearUnique = (1 to 50).map(i => (s"id$i", s"b${i % 3}")).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Stats.dependencyAudit(nearUnique, Seq(("a", "b")), maxJointCells = 20L,
        assumeUnderCap = true).collect()
    }
    assert(e.getMessage.contains("assumeUnderCap asserted"), e.getMessage)
  }

  test("vocabularyGrowth: first-seen accounting, cumulative curve, empty batches, totals") {
    def bucket(id: Long, m: Int): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(8), 16) % m
    }
    // build docs whose tokens we can attribute by hand via the bucket fn
    val docs = (1L to 40L).map(i =>
      (i, s"common tok${i % 7} extra${i}")).toDF("doc_id", "text")
    val out = graft.functions.Text.vocabularyGrowth(docs, "doc_id", "text", batches = 4)
      .collect().sortBy(_.getAs[Long]("batch"))
    assert(out.map(_.getAs[Long]("batch")).toSeq == (0L to 3L))
    // replay first-seen by hand
    val byBatch = (1L to 40L).groupBy(bucket(_, 4))
    val firstSeen = scala.collection.mutable.Map[String, Long]()
    (0L to 3L).foreach { b =>
      byBatch.getOrElse(b, Seq.empty).foreach { i =>
        Seq("common", s"tok${i % 7}", s"extra$i").foreach { t =>
          if (!firstSeen.contains(t)) firstSeen(t) = b } } }
    val expNew = (0L to 3L).map(b => firstSeen.values.count(_ == b).toLong)
    assert(out.map(_.getAs[Long]("new_tokens")).toSeq == expNew)
    // cumulative = running sum; final cum = total vocab
    // (1 "common" + 7 "tokN" + 40 "extraN" = 48 distinct)
    assert(out.map(_.getAs[Long]("cum_vocab")).toSeq == expNew.scanLeft(0L)(_ + _).tail)
    assert(out.last.getAs[Long]("cum_vocab") == 48L)
    // batch token volume: 3 tokens per doc
    assert(out.map(_.getAs[Long]("batch_tokens")).sum == 120L)
    // ppm shares sum to ~1e6 (floor rounding)
    val ppm = out.map(_.getAs[Long]("new_ppm")).sum
    assert(ppm <= 1000000L && ppm > 999900L, s"ppm sum $ppm")
  }

  test("jsonFieldAudit: validity, field coverage, JSON null absent, object value present, invalid rows") {
    val rows = Seq(
      """{"id":1,"lang":"en","score":5}""",      // all three
      """{"id":2,"lang":"de"}""",                // score missing
      """{"id":3,"lang":null,"score":7}""",      // JSON null lang -> absent
      """{"id":4,"lang":{"code":"fr"},"score":8}""", // object value -> present
      """{"id":5,"lang":"en","score":""",        // truncated -> invalid
      "not json at all")                         // invalid
    val out = graft.functions.Expectations.jsonFieldAudit(
        rows.toDF("j"), "j", Seq("id", "lang", "score", "absent"))
      .collect().map(r => r.getAs[String]("field") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_valid"),
          r.getAs[Long]("n_present"), r.getAs[Long]("present_ppm"))).toMap
    assert(out.keySet == Set("id", "lang", "score", "absent"))
    assert(out("id") == (6L, 4L, 4L, 1000000L))
    assert(out("lang") == (6L, 4L, 3L, 750000L))  // JSON null counts absent
    assert(out("score") == (6L, 4L, 3L, 750000L)) // one valid row lacks it
    assert(out("absent") == (6L, 4L, 0L, 0L))
    // field names are validated (a path injection must fail loudly)
    intercept[IllegalArgumentException] {
      graft.functions.Expectations.jsonFieldAudit(rows.toDF("j"), "j",
        Seq("a.b"))
    }
  }

  test("dupTokenMass: corpus-wide first-copy attribution, per-source waste accounting") {
    // src A owns the originals (low ids); src B re-crawls two of them and
    // adds one unique doc; a duplicate WITHIN A counts against A
    val docs = Seq(
      (1L, "alpha beta gamma", "A"),     // 3 tokens, original
      (2L, "delta epsilon", "A"),        // 2 tokens, original
      (3L, "alpha beta gamma", "A"),     // dup of 1 -> A's waste (3 tokens)
      (10L, "alpha beta gamma", "B"),    // dup of 1 -> B's waste (3)
      (11L, "delta epsilon", "B"),       // dup of 2 -> B's waste (2)
      (12L, "zeta", "B"))                // unique
      .toDF("doc_id", "text", "source")
    val out = graft.functions.Dedup.dupTokenMass(docs, "doc_id", "text", "source")
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("n_docs") == 3L && a.getAs[Long]("n_dup_docs") == 1L)
    assert(a.getAs[Long]("tokens_total") == 8L && a.getAs[Long]("tokens_dup") == 3L)
    assert(a.getAs[Long]("dup_token_ppm") == 3L * 1000000L / 8L)
    val b = out("B")
    assert(b.getAs[Long]("n_docs") == 3L && b.getAs[Long]("n_dup_docs") == 2L)
    assert(b.getAs[Long]("tokens_total") == 6L && b.getAs[Long]("tokens_dup") == 5L)
    assert(b.getAs[Long]("dup_token_ppm") == 5L * 1000000L / 6L)
    // order independence: first copy is by ID, not arrival
    val shuffled = graft.functions.Dedup.dupTokenMass(
      docs.orderBy(F.rand(3)).repartition(4), "doc_id", "text", "source")
      .collect().map(r => r.getAs[String]("source") -> r.toSeq).toMap
    assert(shuffled == out.view.mapValues(_.toSeq).toMap)
  }

  test("fixedSizeSamplePerGroup: exact k cap, md5-prefix pick, layout-independent, heap plan") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def sample(d: org.apache.spark.sql.DataFrame) =
      graft.functions.Sampling.fixedSizeSamplePerGroup(
        d, "source", F.col("doc_id"), 5)
    // groups of size 50 and 3 under a cap of 5
    val rows = (1L to 50L).map(i => (i, "big")) ++
      (101L to 103L).map(i => (i, "small"))
    val df = rows.toDF("doc_id", "source")
    val out = sample(df)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("doc_id"))
    val bySrc = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(bySrc("big").size == 5)          // capped exactly
    assert(bySrc("small") == Set(101L, 102L, 103L)) // under-cap keeps all
    // the pick is the md5-order prefix (engine-reproducible — the q90
    // oracle's row_number spelling)
    val expectBig = (1L to 50L).sortBy(i => md5hex(i.toString)).take(5).toSet
    assert(bySrc("big") == expectBig)
    // layout independence: shuffled + repartitioned input, same answer
    val shuffled = sample(df.orderBy(F.rand(11)).repartition(7))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("doc_id")).toSet
    assert(shuffled == out.toSet)
    // plan: the native heap operator, not a window sort
    val plan = sample(df).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPartial") && plan.contains("TopKFinal"),
      s"expected native TopK partial/final:\n$plan")
    assert(!plan.contains("Window"), s"window leaked into the plan:\n$plan")
  }

  test("dupTokenMass: string doc ids keep their natural order — no silent zero-duplicate report") {
    // non-numeric ids cast-to-long are null; the old min-over-cast made
    // every __id =!= __first comparison null and reported ZERO dup mass.
    // Raw-typed min: first copy = lexicographic-min id.
    val docs = Seq(
      ("crawl/a", "alpha beta gamma", "A"),  // first copy (lexicographic)
      ("crawl/b", "alpha beta gamma", "B"),  // dup -> B's waste, 3 tokens
      ("crawl/c", "delta", "B"))             // unique
      .toDF("doc_id", "text", "source")
    val out = graft.functions.Dedup.dupTokenMass(docs, "doc_id", "text", "source")
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(out("A").getAs[Long]("n_dup_docs") == 0L)
    assert(out("A").getAs[Long]("tokens_dup") == 0L)
    assert(out("B").getAs[Long]("n_dup_docs") == 1L)
    assert(out("B").getAs[Long]("tokens_dup") == 3L)
    assert(out("B").getAs[Long]("dup_token_ppm") == 3L * 1000000L / 4L)
  }
}
