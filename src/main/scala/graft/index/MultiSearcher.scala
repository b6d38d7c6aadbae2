package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyze.Tokenizer

/** Scatter-gather search over several index generations — the analog of
  * the reference's multi-index `Indexes.search`
  * (/root/reference/python/lib.cpp:330-402,
  * /root/reference/python/usearch/index.py:1473-1514): every shard is
  * searched with the SAME global statistics, then the per-shard ranked
  * results are merged with a bounded ordered merge
  * (`merge_into`, /root/reference/include/usearch/index.hpp:2650-2670).
  *
  * With global stats injected, the merged top-k is bit-identical to the
  * top-k of one index built over the union corpus (proved in MergeSpec) —
  * which is what lets the streaming path serve queries before compaction.
  *
  * Doc-id spaces of the generations must be disjoint (the streaming
  * ingester assigns monotonically increasing id ranges per batch).
  */
final class MultiSearcher(spark: SparkSession, roots: Seq[String]) {
  require(roots.nonEmpty)

  val searchers: Seq[Searcher] = roots.map(new Searcher(spark, _))

  /** Run one thunk per shard on driver threads and collect in shard
    * order: shard-side planning (pruned dictionary reads) and per-shard
    * frame construction are independent small jobs, so running them
    * concurrently overlaps their job-launch floors (results are
    * order-preserved, hence identical to the sequential map).
    */
  private def perShard[T](fs: Seq[() => T]): Seq[T] =
    IndexBuilder.awaitAll(fs)

  val nDocs: Long = searchers.map(_.stats.nDocs).sum
  private val totalTokens: Long = searchers.map(_.stats.totalTokens).sum
  val avgdl: Double = totalTokens.toDouble / nDocs.toDouble

  /** Global df per query term = sum of per-generation dfs. */
  def globalStatsFor(terms: Seq[String]): GlobalStats = {
    val df = perShard(searchers.map(se => () => se.termDfs(terms)))
      .foldLeft(Map.empty[String, Long]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (t, d)) => a.updated(t, a.getOrElse(t, 0L) + d) }
      }
    GlobalStats(nDocs, avgdl, df)
  }

  def search(
      query: String,
      k: Int,
      exact: Boolean = false,
      allow: Option[Long => Boolean] = None): DataFrame = {
    val terms = Tokenizer.tokenize(query).distinct.sorted
    val g = globalStatsFor(terms)
    Searcher.topK(
      perShard(searchers.map(se => () => se.search(query, k, exact, allow, Some(g))))
        .reduce(_ union _), k)
  }

  /** Batched search across all generations — the TAAT batch path with
    * injected global stats per shard, so a freshly-streamed,
    * not-yet-compacted table gets the same decode-once batched plan as a
    * compacted index. Generation doc-id spaces are disjoint, so the union
    * of per-bucket partials merges with ONE global bounded top-k
    * aggregate (Searcher.finishMany) into exactly the result a
    * single-index batch would give (MergeSpec pins multi-gen batch ≡
    * single-index batch).
    */
  def searchMany(
      queries: Seq[(Int, String)],
      k: Int,
      allow: Option[Long => Boolean] = None): DataFrame = {
    val allTerms = queries
      .flatMap { case (_, q) => Tokenizer.tokenize(q) }.distinct.sorted
    val g = globalStatsFor(allTerms)
    Searcher.finishMany(
      perShard(searchers.map(se => () => se.searchManyBuckets(queries, k, Some(g), allow = allow)))
        .reduce(_ union _), k)
  }

  /** Batched conjunctive (AND) search across generations: union of
    * per-shard per-bucket partials — complete because a doc lives
    * entirely in one generation, so its all-terms intersection is decided
    * shard-locally — each scored with the SAME injected global stats,
    * then ONE bounded global merge. Multi-gen AND ≡ single-index AND over
    * the union corpus (RetrievalModesSpec pins it).
    */
  def searchConjunctiveMany(queries: Seq[(Int, String)], k: Int): DataFrame = {
    val allTerms = queries
      .flatMap { case (_, q) => Tokenizer.tokenize(q) }.distinct.sorted
    val g = globalStatsFor(allTerms)
    Searcher.finishMany(
      perShard(searchers.map(se => () => se.conjunctiveManyBuckets(queries, k, Some(g))))
        .reduce(_ union _), k)
  }

  /** Index-only phrase search across generations — containment needs no
    * statistics, and generations partition the docs, so the union of
    * per-shard results IS the union-corpus answer.
    */
  def phraseMany(phrases: Seq[(Int, String)]): DataFrame =
    perShard(searchers.map(se => () => se.phraseMany(phrases))).reduce(_ union _)
      .orderBy(col("phrase_id"), col("doc_id"))

  /** Index-only proximity search across generations — same disjoint-union
    * argument as [[phraseMany]].
    */
  def proximityMany(queries: Seq[(Int, String, Int)]): DataFrame =
    perShard(searchers.map(se => () => se.proximityMany(queries))).reduce(_ union _)
      .orderBy(col("query_id"), col("doc_id"))

  /** Index-only ordered-span search across generations — containment
    * queries need no cross-shard statistics, and generations hold
    * disjoint doc spaces, so the union of per-shard sweeps IS the
    * single-index answer (same argument as [[phraseMany]]).
    */
  def spanOrderedMany(queries: Seq[(Int, String, Int)]): DataFrame =
    perShard(searchers.map(se => () => se.spanOrderedMany(queries))).reduce(_ union _)
      .orderBy(col("query_id"), col("doc_id"))

  /** Index-only hit counting across generations: per-shard (n_docs,
    * total_tf) partials summed per query — exact because generations
    * hold DISJOINT doc spaces (the same argument that lets per-bucket
    * distinct counts add inside one index).
    */
  def countMany(queries: Seq[(Int, String)]): DataFrame =
    perShard(searchers.map(se => () => se.countMany(queries))).reduce(_ union _)
      .groupBy(col("query_id"))
      .agg(org.apache.spark.sql.functions.sum(col("n_docs")).as("n_docs"),
        org.apache.spark.sql.functions.sum(col("total_tf")).as("total_tf"))
      .orderBy(col("query_id"))
}
