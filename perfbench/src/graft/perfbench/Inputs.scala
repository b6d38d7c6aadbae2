package graft.perfbench

import graft.analyze.Tokenizer

/** Seeded inputs. Every document and query is a pure function of
  * (seed, index), so one seed always gives the same corpus and queries.
  */
object Inputs {

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def unit(seed: Long, a: Long, b: Long): Double =
    (mix64(mix64(seed ^ mix64(a)) ^ b) >>> 11).toDouble / (1L << 53).toDouble

  /** The word list of the sf0.1 `documents.text` column: a small
    * technical vocabulary, so every term has a long posting list.
    */
  val ServeVocab: Array[String] = Array(
    "spark", "sort", "scan", "column", "value", "group", "query", "table", "stream",
    "hash", "filter", "join", "window", "row", "key", "batch", "part", "line", "order",
    "data", "fast", "slow", "small", "big", "agg", "vector", "merge", "customer", "the",
    "a", "index", "shuffle", "task", "stage", "plan", "cache", "page", "block", "file",
    "node", "lake", "delta", "event", "time", "count", "sum", "min", "max")

  private val serveCdf: Array[Double] = {
    val w = ServeVocab.indices.map(i => 1.0 / math.sqrt(i + 1.0))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  private def pick(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** sf0.1-shaped document: 8 to 95 words, ~300 characters on average. */
  def serveDoc(seed: Long, i: Long): String = {
    val n = 8 + (unit(seed, i, 1L) * 88).toInt
    (0 until n).map(t => ServeVocab(pick(serveCdf, unit(seed, i, 100L + t)))).mkString(" ")
  }

  /** Queries of 1 to 4 terms from the corpus's own vocabulary; one term
    * in eight is absent from every document.
    */
  def serveQueries(seed: Long, n: Int): IndexedSeq[(Int, String)] =
    (0 until n).map { q =>
      val nTerms = 1 + (unit(seed ^ 0x71L, q, 1L) * 4).toInt
      (q, (0 until nTerms).map { t =>
        val u = unit(seed ^ 0x72L, q, 10L + t)
        if (u < 0.125) s"absent${(u * 1000).toInt}"
        else ServeVocab(pick(serveCdf, (u - 0.125) / 0.875))
      }.mkString(" "))
    }

  def terms(q: String): Seq[String] = Tokenizer.tokenize(q).distinct.sorted.toSeq

  /** Deterministic sample of `n` distinct positions below `size`. */
  def sample(seed: Long, size: Int, n: Int): IndexedSeq[Int] =
    (0 until size).sortBy(i => mix64(seed ^ 0x5a17L ^ mix64(i.toLong))).take(math.min(n, size))

  /** Position `i` of a seeded stream over [0, size). */
  def draw(seed: Long, i: Long, size: Int): Int = (unit(seed ^ 0xd7L, i, 3L) * size).toInt
}
