package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyze.Tokenizer

/** Scatter-gather search over several index generations — the analog of
  * the reference's multi-index `Indexes.search`
  * (/root/reference/python/lib.cpp:330-402,
  * /root/reference/python/usearch/index.py:1473-1514): every shard is
  * searched with the SAME global statistics, then every shard's
  * per-bucket partials are merged ONCE with a bounded ordered merge
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
    * order: each shard's planning is driver-side dictionary point reads
    * (no Spark job) and the construction of its lazy per-bucket frame,
    * so running them concurrently overlaps their Parquet footer and page
    * reads (results are order-preserved, hence identical to the
    * sequential map).
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

  /** The union of every shard's frame. Generations hold disjoint doc-id
    * spaces, so a union of per-shard answers loses and doubles nothing.
    */
  private def union(frame: Searcher => DataFrame): DataFrame =
    perShard(searchers.map(se => () => frame(se))).reduce(_ union _)

  /** The one scatter of every scoring mode: global stats over the terms
    * of `texts`, computed once; every shard's per-bucket partials scored
    * with them; and ONE `merge` of their union — the merge one index
    * runs, since the top-k of a union is the top-k of the per-bucket
    * top-ks in the (score desc, doc_id asc) total order.
    */
  private def scatter(texts: Seq[String], merge: DataFrame => DataFrame)(
      partials: (Searcher, Option[GlobalStats]) => DataFrame): DataFrame = {
    val g = Some(globalStatsFor(texts.flatMap(Tokenizer.tokenize).distinct.sorted))
    merge(union(partials(_, g)))
  }

  def search(
      query: String,
      k: Int,
      exact: Boolean = false,
      allow: Option[Long => Boolean] = None): DataFrame =
    scatter(Seq(query), Searcher.topK(_, k))(_.searchBuckets(query, k, exact, allow, _))

  /** Batched search across all generations — the TAAT batch path with
    * injected global stats per shard, so a freshly-streamed,
    * not-yet-compacted table gets the same decode-once batched plan as a
    * compacted index, merged by the same bounded aggregate
    * (Searcher.finishMany) into exactly the result a single-index batch
    * would give (MergeSpec pins multi-gen batch ≡ single-index batch).
    */
  def searchMany(
      queries: Seq[(Int, String)],
      k: Int,
      allow: Option[Long => Boolean] = None): DataFrame =
    scatter(queries.map(_._2), Searcher.finishMany(_, k))(
      _.searchManyBuckets(queries, k, _, allow = allow))

  /** Batched conjunctive (AND) search across generations: minimum-should-
    * match at m = n per shard — complete because a doc lives entirely in
    * one generation, so its all-terms intersection is decided
    * shard-locally. Multi-gen AND ≡ single-index AND over the union
    * corpus (RetrievalModesSpec pins it).
    */
  def searchConjunctiveMany(queries: Seq[(Int, String)], k: Int): DataFrame =
    scatter(queries.map(_._2), Searcher.finishMany(_, k))(
      _.minMatchManyBuckets(Searcher.conjunctive(queries), k, _))

  /** Index-only phrase search across generations — containment needs no
    * statistics, and generations partition the docs, so the union of
    * per-shard results IS the union-corpus answer.
    */
  def phraseMany(phrases: Seq[(Int, String)]): DataFrame =
    union(_.phraseMany(phrases)).orderBy(col("phrase_id"), col("doc_id"))

  /** Index-only proximity search across generations — same disjoint-union
    * argument as [[phraseMany]].
    */
  def proximityMany(queries: Seq[(Int, String, Int)]): DataFrame =
    union(_.proximityMany(queries)).orderBy(col("query_id"), col("doc_id"))

  /** Index-only ordered-span search across generations — containment
    * queries need no cross-shard statistics, and generations hold
    * disjoint doc spaces, so the union of per-shard sweeps IS the
    * single-index answer (same argument as [[phraseMany]]).
    */
  def spanOrderedMany(queries: Seq[(Int, String, Int)]): DataFrame =
    union(_.spanOrderedMany(queries)).orderBy(col("query_id"), col("doc_id"))

  /** Index-only hit counting across generations: per-shard (n_docs,
    * total_tf) partials summed per query — exact because generations
    * hold DISJOINT doc spaces (the same argument that lets per-bucket
    * distinct counts add inside one index).
    */
  def countMany(queries: Seq[(Int, String)]): DataFrame =
    union(_.countMany(queries)).groupBy(col("query_id"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_tf")).as("total_tf"))
      .orderBy(col("query_id"))
}
