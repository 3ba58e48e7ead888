package stormbench

import scala.collection.mutable

/** Seeded word generator for the streaming workloads: words `w<rank>` drawn
  * from a Zipf law over a fixed vocabulary. It keeps its own count of every
  * word it emitted - the reference the engine's state is checked against -
  * and the input properties a later claim may name. */
final class Gen(seed: Long, vocab: Int, val exponent: Double) {
  private val rnd = new java.util.Random(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocab)(i => 1.0 / math.pow(i + 1, exponent))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  val counts: mutable.HashMap[String, Long] = mutable.HashMap()
  private var distinctSum, knownSum = 0L
  private var batches = 0L

  def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    "w" + (if (i >= 0) i else math.min(-i - 1, vocab - 1))
  }

  /** `sentences` sentences of `words` words each. */
  def batch(sentences: Int, words: Int): Vector[String] =
    Vector.fill(sentences)(Vector.fill(words)(word()).mkString(" "))

  /** Count a batch the engine has now folded, and note its key shape. */
  def fold(batch: Seq[String]): Unit = {
    val ws = batch.flatMap(_.split(' '))
    val distinct = ws.distinct
    distinctSum += distinct.size
    knownSum += distinct.count(counts.contains)
    batches += 1
    ws.foreach(w => counts(w) = counts.getOrElse(w, 0L) + 1)
  }

  /** Forget the key-shape history (not the counts): called when timing starts. */
  def resetShape(): Unit = { distinctSum = 0; knownSum = 0; batches = 0 }

  def props(r: Result, prefix: String): Unit = {
    r.props(s"${prefix}zipf_exponent") = exponent
    r.props(s"${prefix}vocabulary") = vocab
    if (batches > 0) {
      r.props(s"${prefix}distinct_keys_per_batch") = distinctSum.toDouble / batches
      r.props(s"${prefix}share_keys_in_state") =
        if (distinctSum == 0) 0.0 else knownSum.toDouble / distinctSum
    }
    r.props(s"${prefix}state_keys_end") = counts.size
  }
}
