package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyze.Tokenizer
import graft.index.{IndexBuilder, Searcher}

/** Fulltext / BM25 operators over the `documents` testdata table — the
  * north rule's core semantics expressed twice:
  *   - declarative Catalyst plans (tf/df/avgdl/bm25 via groupBy + join),
  *     checked value-for-value against a DuckDB SQL oracle, and
  *   - the engine path (`engBm25TopK`): bucketed segments + block-max
  *     WAND, checked against the *same* SQL oracle — the custom physical
  *     operator must reproduce declarative SQL exactly.
  */
object Fulltext {

  /** Fixed reference query for the oracle-checked entries. */
  final val RefQuery: Seq[String] = Seq("spark", "merge", "dup")
  final val K = 10

  // spread the (few-file, single-row-group) corpus scan before the
  // tokenize-heavy consumers — see TextAnalysis.docs for the rationale.
  // Index builds take the RAW read instead ([[rawDocs]]): IndexBuilder
  // spreads internally (adjacent repartitions would collapse anyway) and
  // its corpus-cardinality count over the raw scan stays a metadata-only
  // job, where a count over the spread frame pays a full scan + exchange.
  private def docs(spark: SparkSession, dir: String): DataFrame =
    rawDocs(spark, dir)
      .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))

  private def rawDocs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Construct per-query frames on driver threads, then union. The
    * multi-query entries pay 1-3 driver-side planning jobs PER query
    * (pruned dictionary reads, wildcard/regexp expansion scans) before
    * the final collect; constructing the branches concurrently runs
    * those small jobs side by side (concurrent jobs back-fill idle
    * executor slots) instead of serializing their job-launch floors.
    * Results are identical: each branch is the same single-query frame,
    * and union order follows the input sequence.
    */
  private def parUnionAll(parts: Seq[() => DataFrame]): DataFrame =
    graft.index.IndexBuilder.awaitAll(parts).reduce(_ unionAll _)

  /** (doc_id, term, tf) — the tokenize→explode→agg stage. */
  def tfTable(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(Tokenizer.tokensCol(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("doc_id"), col("term"))

  val tfTableSql: String =
    s"""SELECT doc_id, term, count(*) AS tf
       |FROM (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents)
       |GROUP BY doc_id, term
       |ORDER BY doc_id, term""".stripMargin

  /** (term, df) document frequencies. */
  def dfTable(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(Tokenizer.tokensCol(col("text"))).as("term"))
      .distinct()
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("term"))

  val dfTableSql: String =
    s"""SELECT term, count(*) AS df
       |FROM (SELECT DISTINCT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents)
       |GROUP BY term
       |ORDER BY term""".stripMargin

  /** Corpus scalars: n docs, total tokens, avgdl. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val tf = docs(spark, dir)
      .select(col("doc_id"), explode(Tokenizer.tokensCol(col("text"))).as("term"))
    tf.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("total_tokens"),
      (count(lit(1)).cast("double") / countDistinct(col("doc_id")).cast("double")).as("avgdl"))
  }

  val corpusStatsSql: String =
    s"""SELECT count(DISTINCT doc_id) AS n_docs, count(*) AS total_tokens,
       |  CAST(count(*) AS DOUBLE) / CAST(count(DISTINCT doc_id) AS DOUBLE) AS avgdl
       |FROM (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents)""".stripMargin

  // ------------------------------------------------------------------
  // BM25 top-k — declarative Catalyst version
  // ------------------------------------------------------------------

  /** BM25 (k1=1.2, b=0.75) top-k as a pure Catalyst plan: tf ⋈ df ⋈ dl
    * with the scalars injected as literals, `TakeOrderedAndProject` doing
    * the distributed top-k merge. Scores rounded to 4 dp for the
    * cross-engine hash compare (double accumulation order differs).
    */
  def bm25TopK(
      spark: SparkSession,
      dir: String,
      queryTerms: Seq[String] = RefQuery,
      k: Int = K,
      langFilter: Option[String] = None): DataFrame = {
    val base0 = docs(spark, dir)
    val base = langFilter.map(l => base0.where(col("lang") === l)).getOrElse(base0)
    val tok = base
      .select(col("doc_id"), explode(Tokenizer.tokensCol(col("text"))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val nDocs = base.agg(count(lit(1))).head().getLong(0)
    val totalTokens = tf.agg(sum(col("tf"))).head().getLong(0)
    val avgdl = totalTokens.toDouble / nDocs.toDouble

    val terms = queryTerms.distinct.sorted
    val df = tf.where(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))

    tf.where(col("term").isin(terms: _*))
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      // scalars injected via string→double casts: a bare decimal literal
      // would parse as DecimalType in Spark SQL and change the math
      .withColumn("part_score",
        expr(graft.query.Bm25.sqlScore(
          "tf", "df", "dl", s"CAST($nDocs AS DOUBLE)", s"CAST('$avgdl' AS DOUBLE)")))
      .groupBy(col("doc_id"))
      .agg(sum(col("part_score")).as("score_raw"))
      .orderBy(desc("score_raw"), asc("doc_id"))
      .limit(k)
      .select(col("doc_id"), round(col("score_raw"), 4).as("score"))
  }

  /** DuckDB oracle for [[bm25TopK]] — same math, scalars via subqueries.
    * The per-doc accumulation is the deterministic [[foldScoreSqlAny]]
    * (not a bare `sum()` whose addition order DuckDB may vary run to run
    * — near-duplicate docs tie at the last ulp and would flip ranks).
    */
  def bm25TopKSql(
      queryTerms: Seq[String] = RefQuery,
      k: Int = K,
      langFilter: Option[String] = None,
      docWhere: Option[String] = None): String = {
    val terms = queryTerms.distinct.sorted
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val preds = langFilter.map(l => s"lang = '$l'").toSeq ++ docWhere.toSeq
    val where = if (preds.isEmpty) "" else preds.mkString("WHERE ", " AND ", "")
    s"""WITH base AS (SELECT * FROM documents $where),
       |tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM base),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST((SELECT count(*) FROM base) AS DOUBLE) AS n,
       |              CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM base) AS DOUBLE) AS avgdl),
       |dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($termList) GROUP BY 1),
       |scores AS (
       |  SELECT tf.doc_id,
       |         ${foldScoreSqlAny(terms)} AS score_raw
       |  FROM tf
       |  JOIN dfq USING (term)
       |  JOIN dl USING (doc_id)
       |  CROSS JOIN st
       |  WHERE tf.term IN ($termList)
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, round(score_raw, 4) AS score
       |FROM scores
       |ORDER BY score_raw DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  /** [[foldScoreSql]] for DISJUNCTIVE queries: a doc may lack a term, so
    * each contribution is COALESCE'd to 0.0 — `x + 0.0` is exactly `x`
    * for the strictly-positive BM25 contributions, so the fold equals the
    * engine's present-terms-only sorted left fold bit-for-bit.
    */
  private def foldScoreSqlAny(terms: Seq[String]): String =
    terms.map(t =>
      s"COALESCE(MAX(CASE WHEN tf.term = '$t' THEN ${graft.query.Bm25.sqlScore("tf.tf", "dfq.df", "dl.dl", "st.n", "st.avgdl")} END), 0.0)")
      .mkString("(", " + ", ")")

  // ------------------------------------------------------------------
  // BM25 top-k — engine path (segments + block-max WAND)
  // ------------------------------------------------------------------

  /** Build (or reuse) the engine index for a testdata dir. The index is
    * cached on disk keyed by the dir name — rebuilds are resume-no-ops.
    */
  def indexFor(spark: SparkSession, dir: String, cacheHot: Boolean = false): Searcher = {
    val key = dir.replaceAll("[^a-zA-Z0-9.]", "_")
    val root = s"${sys.props("java.io.tmpdir")}/graft-index-$key"
    IndexBuilder.build(spark, rawDocs(spark, dir), root, idCol = "doc_id", textCol = "text")
    new Searcher(spark, root, cacheHot)
  }

  /** [[indexFor]] plus the positions sidecar ([[IndexBuilder
    * .buildPositions]]) — the phrase-capable index. The sidecar is its
    * own committed stage on the SAME root, so it amortizes across every
    * phrase consumer (eng_phrase, the contamination scan) and across
    * runs, and indexes without it keep working for every non-phrase
    * query.
    */
  def positionalIndexFor(spark: SparkSession, dir: String): Searcher = {
    val s = indexFor(spark, dir)
    IndexBuilder.buildPositions(spark, rawDocs(spark, dir), indexRoot(dir),
      idCol = "doc_id", textCol = "text")
    s
  }

  private def indexRoot(dir: String): String = {
    val key = dir.replaceAll("[^a-zA-Z0-9.]", "_")
    s"${sys.props("java.io.tmpdir")}/graft-index-$key"
  }

  /** Build a doc_id-parity generation index at `root`, reusing the MAIN
    * index's persisted tokens table when it is committed: a generation's
    * tf table is exactly the parity filter of the full tf table
    * (tokenization is per-doc), so the corpus re-tokenize + explode +
    * aggregate is replaced by one filtered parquet read. N (BM25's
    * corpus cardinality, zero-token docs included) still comes from the
    * corpus itself — it is not derivable from tf. Falls back to the
    * ordinary from-corpus build when no main tokens table exists.
    */
  private def genBuild(spark: SparkSession, dir: String, root: String,
      parity: Int, fixedBucketSize: Long = 0L): Unit = {
    if (IndexBuilder.fullyCommitted(root)) return
    val half = rawDocs(spark, dir).where(col("doc_id") % 2 === parity)
    val main = indexRoot(dir)
    if (java.nio.file.Files.exists(
        IndexBuilder.Layout(main).statusFile("tokens"))) {
      val tf = spark.read.parquet(IndexBuilder.Layout(main).tokens)
        .where(col("doc_id") % 2 === parity)
      IndexBuilder.buildFromTf(spark, tf, half.count(), root,
        fixedBucketSize = fixedBucketSize)
    } else
      IndexBuilder.build(spark, half, root, idCol = "doc_id", textCol = "text",
        fixedBucketSize = fixedBucketSize)
  }

  /** Index-only phrase search over the fixed probe phrases
    * ([[TextAnalysis.ContaminationProbes]] — two present at every scale,
    * one absent at sf0.001, one dictionary-absent): every (phrase, doc)
    * containment with its occurrence count, answered from the positions
    * sidecar without reading `documents.text`
    * ([[graft.index.Searcher.phraseMany]]).
    */
  def engPhrase(spark: SparkSession, dir: String): DataFrame =
    positionalIndexFor(spark, dir)
      .phraseMany(TextAnalysis.ContaminationProbes.zipWithIndex.map(_.swap))

  /** Oracle: occurrence counts by explicit position arithmetic over the
    * tokenized docs (1-based list indexing; overlapping matches count —
    * the same semantics as the positional index).
    */
  def engPhraseSql(probes: Seq[String] = TextAnalysis.ContaminationProbes): String = {
    val selects = probes.zipWithIndex.map { case (p, i) =>
      val ts = Tokenizer.tokenize(p)
      val conds = ts.zipWithIndex
        .map { case (t, k) => s"toks[i + $k] = '$t'" }.mkString(" AND ")
      s"""SELECT $i AS phrase_id, doc_id,
         |    CAST(len(list_filter(range(1, len(toks) + 2 - ${ts.length}), i -> $conds)) AS BIGINT) AS phrase_tf
         |  FROM d""".stripMargin
    }
    s"""WITH d AS (SELECT doc_id, ${Tokenizer.duckdbTokensSql("text")} AS toks FROM documents)
       |SELECT phrase_id, doc_id, phrase_tf FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) u WHERE phrase_tf > 0 ORDER BY phrase_id, doc_id""".stripMargin
  }

  /** Fixed proximity probe set: (query_id, terms, window). Two satisfied
    * at every scale, one window-tight (present terms but a span that may
    * or may not fit), one dictionary-absent canary (dies at planning).
    */
  final val ProximityQueries: Seq[(Int, String, Int)] = Seq(
    (0, "dup spark", 8),
    (1, "key hash join", 12),
    (2, "merge batch dup", 15),
    (3, "quantum flux", 4))

  /** Index-only PROXIMITY (NEAR/W) search over the fixed probe set: every
    * (query, doc) whose minimal token window covering all query terms is
    * within the query's window, with the span and its leftmost 0-based
    * start — answered from the positions sidecar, the corpus text is
    * never read ([[graft.index.Searcher.proximityMany]]).
    */
  def engProximity(spark: SparkSession, dir: String): DataFrame =
    positionalIndexFor(spark, dir).proximityMany(ProximityQueries)

  /** Oracle: the cross-join definition of the minimal window — min over
    * all m-tuples (one position per term) of (max − min + 1), leftmost
    * start among the minimal tuples — by explicit position arithmetic
    * over the tokenized docs. The (span, start) lexicographic min rides
    * one BIGINT: span·2²⁰ + start (positions are far below 2²⁰ here;
    * integers only, nothing floats across the engine boundary).
    */
  def engProximitySql(queries: Seq[(Int, String, Int)] = ProximityQueries): String = {
    val enc = 1048576L
    val selects = queries.map { case (qid, q, w) =>
      val ts = Tokenizer.tokenize(q).distinct.sorted
      val lists = ts.zipWithIndex.map { case (t, j) =>
        s"""(SELECT doc_id, unnest(list_filter(range(1, len(toks) + 1), x -> toks[x] = '$t')) - 1 AS p$j
           |   FROM d) q$j""".stripMargin
      }
      val joins = lists.head +: lists.tail.map(l => s"JOIN $l USING (doc_id)")
      val ps = ts.indices.map(j => s"p$j").mkString(", ")
      s"""SELECT $qid AS query_id, doc_id,
         |    CAST(min(enc) // $enc AS BIGINT) AS min_span,
         |    CAST(min(enc) % $enc AS BIGINT) AS span_start
         |  FROM (
         |    SELECT doc_id,
         |      (greatest($ps) - least($ps) + 1) * $enc + least($ps) AS enc
         |    FROM ${joins.mkString("\n    ")}
         |  ) e
         |  GROUP BY doc_id
         |  HAVING CAST(min(enc) // $enc AS BIGINT) <= $w""".stripMargin
    }
    s"""WITH d AS (SELECT doc_id, ${Tokenizer.duckdbTokensSql("text")} AS toks FROM documents)
       |SELECT query_id, doc_id, min_span, span_start FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) u ORDER BY query_id, doc_id""".stripMargin
  }

  /** Fixed conjunctive (AND) query batch: one rare-term query, one
    * common-terms query, one rare+common mix, one dictionary-absent
    * canary (dead at planning — AND of an absent term is empty).
    */
  final val AndQueries: Seq[(Int, String)] = Seq(
    (0, "spark merge dup"),
    (1, "key hash join"),
    (2, "dup stream table"),
    (3, "quantum flux spark"))

  /** Batched conjunctive BM25 top-k (`+term +term` boolean-AND mode):
    * only docs containing EVERY query term are ranked; scores are the
    * identical sorted-term BM25 fold as the disjunctive entries
    * ([[graft.index.Searcher.searchConjunctiveMany]]).
    */
  def engBm25AndMany(spark: SparkSession, dir: String): DataFrame = {
    val s = indexFor(spark, dir)
    s.searchConjunctiveMany(AndQueries, K)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("score"), 4).as("score"))
  }

  /** Fixed-order per-doc score fold for a known sorted term list:
    * `MAX(CASE WHEN term=t THEN part END)` picks each term's single
    * contribution exactly, and the explicit `+` chain adds them in
    * sorted-term order — bit-identical to the engine's left fold. A bare
    * `sum()` would let DuckDB's parallel aggregation order vary run to
    * run in the last ulp, flipping ranks between docs whose profiles tie
    * (near-duplicate corpora make such ties COMMON — two identical docs
    * once ranked differently across runs; this fold is the fix).
    */
  private def foldScoreSql(terms: Seq[String]): String =
    terms.map(t =>
      s"MAX(CASE WHEN tf.term = '$t' THEN ${graft.query.Bm25.sqlScore("tf.tf", "dfq.df", "dl.dl", "st.n", "st.avgdl")} END)")
      .mkString("(", " + ", ")")

  /** UNION ALL of per-query oracles — [[bm25TopKManySql]]'s math with a
    * `HAVING count(DISTINCT term) = m` conjunctive gate and the
    * deterministic [[foldScoreSql]] accumulation.
    */
  def bm25AndTopKManySql(queries: Seq[(Int, String)] = AndQueries, k: Int = K): String =
    queries.map { case (qid, q) =>
      val terms = Tokenizer.tokenize(q).distinct.sorted.toSeq
      val termList = terms.map(t => s"'$t'").mkString(", ")
      val fold = foldScoreSql(terms)
      s"""SELECT $qid AS query_id, CAST(rnk AS INT) AS rank, doc_id, round(score_raw, 4) AS score FROM (
         |  WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
         |  tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |  dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |  st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         |                CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
         |  dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($termList) GROUP BY 1)
         |  SELECT tf.doc_id,
         |         $fold AS score_raw,
         |         row_number() OVER (
         |           ORDER BY $fold DESC, tf.doc_id) AS rnk
         |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  WHERE tf.term IN ($termList)
         |  GROUP BY tf.doc_id
         |  HAVING count(DISTINCT tf.term) = ${terms.size}) x
         |WHERE rnk <= $k""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY query_id, rank")

  /** SNIPPET search over the conjunctive probe set: top-k AND-mode BM25
    * hits, each carrying its leftmost minimal window covering all query
    * terms (the highlight anchor) — computed index-only from the
    * positions sidecar for the hit docs alone
    * ([[graft.index.Searcher.snippetMany]]).
    */
  def engSnippet(spark: SparkSession, dir: String): DataFrame =
    positionalIndexFor(spark, dir).snippetMany(AndQueries, K)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("score"), 4).as("score"),
        col("snippet_start"), col("snippet_len"))

  /** Oracle: the conjunctive top-k math joined with the cross-join
    * minimal-window definition (no window cap — every AND hit has one).
    */
  def engSnippetSql(queries: Seq[(Int, String)] = AndQueries, k: Int = K): String = {
    val enc = 1048576L
    queries.map { case (qid, q) =>
      val terms = Tokenizer.tokenize(q).distinct.sorted.toSeq
      val termList = terms.map(t => s"'$t'").mkString(", ")
      val lists = terms.zipWithIndex.map { case (t, j) =>
        s"""(SELECT doc_id, unnest(list_filter(range(1, len(toks) + 1), x -> toks[x] = '$t')) - 1 AS p$j
           |     FROM d) q$j""".stripMargin
      }
      val joins = lists.head +: lists.tail.map(l => s"JOIN $l USING (doc_id)")
      val ps = terms.indices.map(j => s"p$j").mkString(", ")
      val fold = foldScoreSql(terms)
      s"""SELECT $qid AS query_id, CAST(rnk AS INT) AS rank, doc_id, round(score_raw, 4) AS score,
         |    CAST(enc % $enc AS BIGINT) AS snippet_start,
         |    CAST(enc // $enc AS BIGINT) AS snippet_len
         |FROM (
         |  WITH d AS (SELECT doc_id, ${Tokenizer.duckdbTokensSql("text")} AS toks FROM documents),
         |  tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
         |  tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |  dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |  st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         |                CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
         |  dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($termList) GROUP BY 1),
         |  topk AS (
         |    SELECT tf.doc_id,
         |           $fold AS score_raw,
         |           row_number() OVER (
         |             ORDER BY $fold DESC, tf.doc_id) AS rnk
         |    FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |    WHERE tf.term IN ($termList)
         |    GROUP BY tf.doc_id
         |    HAVING count(DISTINCT tf.term) = ${terms.size}),
         |  win AS (
         |    SELECT doc_id, min((greatest($ps) - least($ps) + 1) * $enc + least($ps)) AS enc
         |    FROM ${joins.mkString("\n    ")}
         |    GROUP BY doc_id)
         |  SELECT * FROM topk JOIN win USING (doc_id) WHERE rnk <= $k) x""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY query_id, rank")
  }

  /** Prefix probe: expands against the dictionary (6 terms at every
    * scale factor: scan, slow, small, sort, spark, stream).
    */
  final val PrefixProbe = "s"

  /** Dictionary-driven PREFIX search (`s*`): expand the prefix over the
    * term dictionary (one key-range read on the driver, no Spark job), then
    * rank the expansion as a disjunctive BM25 query — each matched term
    * weighted by its own idf ([[graft.index.Searcher.searchPrefix]]).
    * The oracle derives the SAME expansion independently via `LIKE`.
    */
  def engPrefixSearch(spark: SparkSession, dir: String): DataFrame = {
    val s = indexFor(spark, dir)
    s.searchPrefix(PrefixProbe, K)
      .select(col("doc_id"), round(col("score"), 4).as("score"))
  }

  /** [[bm25TopKSql]] with the term set derived by the oracle itself:
    * `term LIKE 'prefix%'` replaces the literal list, so the dictionary
    * expansion is independently recomputed from the corpus.
    */
  def prefixSearchSql(prefix: String = PrefixProbe, k: Int = K): String =
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
       |              CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
       |dfq AS (SELECT term, count(*) AS df FROM tf WHERE term LIKE '$prefix%' GROUP BY 1),
       |scores AS (
       |  SELECT tf.doc_id,
       |         list_aggregate(list(${graft.query.Bm25.sqlScore("tf.tf", "dfq.df", "dl.dl", "st.n", "st.avgdl")} ORDER BY tf.term), 'sum') AS score_raw
       |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       |  WHERE tf.term LIKE '$prefix%'
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, round(score_raw, 4) AS score
       |FROM scores
       |ORDER BY score_raw DESC, doc_id
       |LIMIT $k""".stripMargin

  /** Wildcard probe set: a leading-star pattern (the full-dictionary-scan
    * path), a bounded infix pattern, a star-suffix pattern wider than one
    * term, and an expansion-empty canary. The corpus vocabulary is fixed
    * across scales (CorpusGen), so the probes are non-vacuous tri-scale.
    */
  final val WildcardQueries: Seq[(Int, String)] = Seq(
    (0, "*t"),
    (1, "m*e"),
    (2, "*e"),
    (3, "zz*zz"))

  /** Dictionary-driven WILDCARD search (`me*ge` / `*tion`): expand each
    * pattern over the term dictionary (a key-range read on the driver
    * when the pattern has a literal head; a leading `*` is the documented
    * full dictionary scan), then rank each expansion as a disjunctive BM25 query
    * ([[graft.index.Searcher.searchWildcard]]). The oracle recomputes
    * every expansion itself via `LIKE`.
    */
  def engWildcardSearch(spark: SparkSession, dir: String): DataFrame = {
    val s = indexFor(spark, dir)
    val per = parUnionAll(WildcardQueries.map { case (qid, p) =>
      () => s.searchWildcard(p, K)
        .select(lit(qid).as("query_id"), col("doc_id"), col("score"))
    })
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
    per
      .select(col("query_id"), row_number().over(w).as("rank"),
        col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle for [[engWildcardSearch]]: term set derived in SQL (`LIKE`
    * with `*`→`%`), scored with the order-pinned `list_aggregate` fold
    * (the SQL-derived-term-set rule — a bare `sum()`'s addition order
    * varies run to run in DuckDB).
    */
  def wildcardSearchSql(queries: Seq[(Int, String)] = WildcardQueries, k: Int = K): String = {
    val selects = queries.map { case (qid, p) =>
      val like = p.replace("*", "%")
      s"""SELECT $qid AS query_id, CAST(rnk AS INT) AS rank, doc_id, round(score_raw, 4) AS score FROM (
         |  WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
         |  tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |  dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |  st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         |                CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
         |  dfq AS (SELECT term, count(*) AS df FROM tf WHERE term LIKE '$like' GROUP BY 1)
         |  SELECT tf.doc_id,
         |         list_aggregate(list(${graft.query.Bm25.sqlScore("tf.tf", "dfq.df", "dl.dl", "st.n", "st.avgdl")} ORDER BY tf.term), 'sum') AS score_raw,
         |         row_number() OVER (
         |           ORDER BY list_aggregate(list(${graft.query.Bm25.sqlScore("tf.tf", "dfq.df", "dl.dl", "st.n", "st.avgdl")} ORDER BY tf.term), 'sum') DESC, tf.doc_id) AS rnk
         |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  WHERE tf.term LIKE '$like'
         |  GROUP BY tf.doc_id) x
         |WHERE rnk <= $k""".stripMargin
    }
    s"""SELECT query_id, rank, doc_id, score FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) u ORDER BY query_id, rank""".stripMargin
  }

  /** Minimum-should-match probe batch: 2-of-3 common terms; 3-of-4; a
    * dead term that lowers the achievable count (2-of-{2 live}, i.e.
    * effectively conjunctive over the survivors); and a query whose live
    * terms cannot reach the threshold (dead at planning, empty on both
    * engines).
    */
  final val MsmQueries: Seq[(Int, String, Int)] = Seq(
    (0, "spark merge dup", 2),
    (1, "customer window batch scan", 3),
    (2, "spark zzznope merge", 2),
    (3, "zzznope vector", 2))

  /** Batched MINIMUM-SHOULD-MATCH BM25 top-k ([[graft.index.Searcher
    * .searchMinMatchMany]] — the Lucene/Elasticsearch
    * `minimum_should_match` knob): rank docs containing at least m of
    * the query's terms, scored with the identical sorted-term BM25 fold
    * over present terms as the disjunctive entries.
    */
  def engBm25MinMatch(spark: SparkSession, dir: String): DataFrame = {
    val s = indexFor(spark, dir)
    s.searchMinMatchMany(MsmQueries, K)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("score"), 4).as("score"))
  }

  /** Oracle for [[engBm25MinMatch]]: the COALESCE-fold over the query's
    * sorted terms (subset profiles add exact 0.0 for missing terms) with
    * a `HAVING count(DISTINCT term) >= m` threshold gate.
    */
  def bm25MinMatchManySql(queries: Seq[(Int, String, Int)] = MsmQueries, k: Int = K): String = {
    val selects = queries.map { case (qid, q, m) =>
      val terms = Tokenizer.tokenize(q).distinct.sorted.toSeq
      val termList = terms.map(t => s"'$t'").mkString(", ")
      val fold = foldScoreSqlAny(terms)
      s"""SELECT $qid AS query_id, CAST(rnk AS INT) AS rank, doc_id, round(score_raw, 4) AS score FROM (
         |  WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
         |  tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |  dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |  st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         |                CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
         |  dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($termList) GROUP BY 1)
         |  SELECT tf.doc_id, $fold AS score_raw,
         |         row_number() OVER (
         |           ORDER BY $fold DESC, tf.doc_id) AS rnk
         |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  WHERE tf.term IN ($termList)
         |  GROUP BY tf.doc_id
         |  HAVING count(DISTINCT tf.term) >= $m) x
         |WHERE rnk <= $k""".stripMargin
    }
    s"""SELECT query_id, rank, doc_id, score FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) u ORDER BY query_id, rank""".stripMargin
  }

  /** Boosted probe set: an up-weighted common term, a down-weighted one,
    * a unit weight, and a dictionary-absent term with a large boost that
    * must contribute nothing. Weights are exactly-representable doubles
    * so both engines parse the identical value.
    */
  final val BoostedTerms: Seq[(String, Double)] = Seq(
    ("spark", 2.0), ("merge", 0.5), ("dup", 1.0), ("zzznope", 3.0))

  /** BOOSTED term query entry ([[graft.index.Searcher.searchBoosted]] —
    * the Lucene `term^boost` analog): per-term BM25 contributions scaled
    * by their weights, folded in ascending term order with the
    * association `w · (idf · tfNorm)` the oracle mirrors verbatim.
    */
  def engBoostedQuery(spark: SparkSession, dir: String): DataFrame =
    indexFor(spark, dir).searchBoosted(BoostedTerms, K)
      .select(col("doc_id"), round(col("score"), 4).as("score"))

  def boostedQuerySql(weights: Seq[(String, Double)] = BoostedTerms, k: Int = K): String = {
    val sorted = weights
      .map { case (t, w) => (Tokenizer.tokenize(t).head, w) }
      .sortBy(_._1)
    val termList = sorted.map { case (t, _) => s"'$t'" }.mkString(", ")
    val part = graft.query.Bm25.sqlScore("tf.tf", "dfq.df", "dl.dl", "st.n", "st.avgdl")
    val fold = sorted.map { case (t, w) =>
      s"COALESCE(MAX(CASE WHEN tf.term = '$t' THEN (CAST('$w' AS DOUBLE)) * ($part) END), 0.0)"
    }.mkString("(", " + ", ")")
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
       |              CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
       |dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($termList) GROUP BY 1),
       |scores AS (
       |  SELECT tf.doc_id, $fold AS score_raw
       |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       |  WHERE tf.term IN ($termList)
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, round(score_raw, 4) AS score
       |FROM scores
       |ORDER BY score_raw DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  /** Regexp probe set over the fixed corpus vocabulary: a top-level
    * group alternation (literal-head pushdown survives), a character
    * class (no pushdown), a '.' single-char hole, a star-quantified
    * tail, and an expansion-empty canary.
    */
  final val RegexpQueries: Seq[(Int, String)] = Seq(
    (0, "s(can|ort|park)"),
    (1, "[bf]a(st|tch)"),
    (2, "qu.ry"),
    (3, "filt.*"),
    (4, "zz+q"))

  /** Dictionary-driven REGEXP search ([[graft.index.Searcher
    * .searchRegexp]] — Lucene RegexpQuery semantics): expand each
    * anchored pattern over the term dictionary, rank the expansion as a
    * disjunctive BM25 query. The oracle recomputes every expansion
    * itself via `regexp_full_match` (the grammar is restricted to the
    * Java/RE2-agreeing subset).
    */
  def engRegexpSearch(spark: SparkSession, dir: String): DataFrame = {
    val s = indexFor(spark, dir)
    val per = parUnionAll(RegexpQueries.map { case (qid, p) =>
      () => s.searchRegexp(p, K)
        .select(lit(qid).as("query_id"), col("doc_id"), col("score"))
    })
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
    per
      .select(col("query_id"), row_number().over(w).as("rank"),
        col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle for [[engRegexpSearch]]: term set derived in SQL via
    * `regexp_full_match`, scored with the order-pinned `list_aggregate`
    * fold (the SQL-derived-term-set rule).
    */
  def regexpSearchSql(queries: Seq[(Int, String)] = RegexpQueries, k: Int = K): String = {
    val selects = queries.map { case (qid, p) =>
      s"""SELECT $qid AS query_id, CAST(rnk AS INT) AS rank, doc_id, round(score_raw, 4) AS score FROM (
         |  WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
         |  tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |  dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |  st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         |                CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
         |  dfq AS (SELECT term, count(*) AS df FROM tf WHERE regexp_full_match(term, '$p') GROUP BY 1)
         |  SELECT tf.doc_id,
         |         list_aggregate(list(${graft.query.Bm25.sqlScore("tf.tf", "dfq.df", "dl.dl", "st.n", "st.avgdl")} ORDER BY tf.term), 'sum') AS score_raw,
         |         row_number() OVER (
         |           ORDER BY list_aggregate(list(${graft.query.Bm25.sqlScore("tf.tf", "dfq.df", "dl.dl", "st.n", "st.avgdl")} ORDER BY tf.term), 'sum') DESC, tf.doc_id) AS rnk
         |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  GROUP BY tf.doc_id) x
         |WHERE rnk <= $k""".stripMargin
    }
    s"""SELECT query_id, rank, doc_id, score FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) u ORDER BY query_id, rank""".stripMargin
  }

  /** Fixed doc ids for the term-vector entry: present at every sf (ids
    * are dense from 0), spanning two buckets at the default geometry.
    */
  final val TermVectorDocs: Seq[Long] = Seq(7L, 12L, 42L)

  /** Document TERM VECTORS entry (forward-index `get` served from the
    * inverted index, [[graft.index.Searcher.termVectors]] — bucket-pruned
    * scan, corpus text never read).
    */
  def engTermVector(spark: SparkSession, dir: String): DataFrame =
    indexFor(spark, dir).termVectors(TermVectorDocs)

  def termVectorSql(ids: Seq[Long] = TermVectorDocs): String =
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents)
       |SELECT doc_id, term, count(*) AS tf FROM tok
       |WHERE doc_id IN (${ids.mkString(", ")})
       |GROUP BY 1, 2 ORDER BY doc_id, term""".stripMargin

  /** FACETED search entry: facet counts over the full disjunctive match
    * set of the reference query (every doc containing ANY query term,
    * not just the top-k), by `lang` and by `source` — the search-engine
    * aggregation a user reads next to the hit list. Candidates come from
    * pruned posting reads ([[graft.index.Searcher.postingDocIds]]), the
    * metadata join is a column-pruned doc_id equi-join, and the counts
    * are partial-aggregated — nothing driver-side, nothing text-read.
    */
  def engFacets(spark: SparkSession, dir: String): DataFrame = {
    val s = indexFor(spark, dir)
    val matches = s.postingDocIds(RefQuery).select(col("doc_id")).distinct()
    val meta = docs(spark, dir).select(col("doc_id"), col("lang"), col("source"))
    val joined = matches.join(meta, "doc_id")
    joined.groupBy(col("lang").as("value")).agg(count(lit(1)).as("n_docs"))
      .select(lit("lang").as("facet"), col("value"), col("n_docs"))
      .unionAll(
        joined.groupBy(col("source").as("value")).agg(count(lit(1)).as("n_docs"))
          .select(lit("source").as("facet"), col("value"), col("n_docs")))
      .orderBy(col("facet"), col("value"))
  }

  def facetsSql(queryTerms: Seq[String] = RefQuery): String = {
    val termList = queryTerms.distinct.sorted.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |m AS (SELECT DISTINCT doc_id FROM tok WHERE term IN ($termList))
       |SELECT facet, value, n_docs FROM (
       |  SELECT 'lang' AS facet, lang AS value, count(*) AS n_docs
       |  FROM documents JOIN m USING (doc_id) GROUP BY 1, 2
       |  UNION ALL
       |  SELECT 'source' AS facet, source AS value, count(*) AS n_docs
       |  FROM documents JOIN m USING (doc_id) GROUP BY 1, 2
       |) u ORDER BY facet, value""".stripMargin
  }

  /** Synonym groups for the entry: two common synonyms; a rare term
    * grouped with a common one (df' = the common df, but the rare tf
    * still counts — the SynonymQuery asymmetry worth pinning); a
    * singleton (≡ the plain term); a group with a dictionary-absent
    * member (drops out, the survivor still scores).
    */
  final val SynonymGroups: Seq[Seq[String]] = Seq(
    Seq("merge", "join"),
    Seq("dup", "row"),
    Seq("scan"),
    Seq("vector", "zzznope"))

  /** SYNONYM search entry ([[graft.index.Searcher.searchSynonym]] —
    * Lucene SynonymQuery semantics: per-doc tf' = Σ member tfs, group
    * df' = MAX member df, groups folded in ascending canonical-head
    * order).
    */
  def engSynonymSearch(spark: SparkSession, dir: String): DataFrame =
    indexFor(spark, dir).searchSynonym(SynonymGroups, K)
      .select(col("doc_id"), round(col("score"), 4).as("score"))

  /** Oracle for [[engSynonymSearch]]: the SAME normalization pipeline
    * (tokenize members, distinct+sort within group, sort groups by
    * canonical head) assigns each group its fold index; tf' sums are
    * integral, df' is a per-group MAX over the members present in the
    * corpus, and the score folds group parts in ascending index with
    * COALESCE(…, 0.0) (adding 0.0 is exact).
    */
  def synonymSearchSql(groups: Seq[Seq[String]] = SynonymGroups, k: Int = K): String = {
    val norm = groups
      .map(_.flatMap(Tokenizer.tokenize).distinct.sorted)
      .filter(_.nonEmpty)
      .sortBy(_.head)
    val allTerms = norm.flatten.sorted.map(t => s"'$t'").mkString(", ")
    def inList(g: Seq[String]) = g.map(t => s"'$t'").mkString(", ")
    val caseG = norm.zipWithIndex
      .map { case (g, i) => s"WHEN term IN (${inList(g)}) THEN $i" }
      .mkString("CASE ", " ", " END")
    val part = graft.query.Bm25.sqlScore("gtf.tfg", "gdf.df", "dl.dl", "st.n", "st.avgdl")
    val fold = norm.indices
      .map(i => s"COALESCE(MAX(CASE WHEN gtf.g = $i THEN $part END), 0.0)")
      .mkString("(", " + ", ")")
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
       |              CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
       |dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($allTerms) GROUP BY 1),
       |gdf AS (SELECT $caseG AS g, MAX(df) AS df FROM dfq GROUP BY 1),
       |gtf AS (SELECT doc_id, $caseG AS g, CAST(sum(tf) AS BIGINT) AS tfg
       |        FROM tf WHERE term IN ($allTerms) GROUP BY 1, 2)
       |SELECT doc_id, round(score_raw, 4) AS score FROM (
       |  SELECT gtf.doc_id, $fold AS score_raw,
       |         row_number() OVER (ORDER BY $fold DESC, gtf.doc_id) AS rnk
       |  FROM gtf JOIN gdf USING (g) JOIN dl USING (doc_id) CROSS JOIN st
       |  GROUP BY gtf.doc_id) x
       |WHERE rnk <= $k ORDER BY score DESC, doc_id""".stripMargin
  }

  /** Stored percolation queries (conjunctive term sets): a common pair,
    * a rare+common conjunction, a three-way, and an absent-term canary
    * that must match nothing.
    */
  final val PercolateQueries: Seq[(Int, Seq[String])] = Seq(
    (0, Seq("spark", "merge")),
    (1, Seq("dup", "scan")),
    (2, Seq("customer", "window", "batch")),
    (3, Seq("zzznope", "spark")))

  /** PERCOLATE (reverse search, the Lucene/Elasticsearch percolator):
    * match INCOMING documents against STORED queries — the streaming-
    * alert shape (route each arriving doc to the saved searches it
    * satisfies). Conjunctive semantics: a doc matches a query iff it
    * contains EVERY query term. Scale shape: tokenize arrivals once,
    * distinct (doc, term), broadcast-join the (tiny) stored-query term
    * table, count distinct matched terms per (query, doc) — matches iff
    * the count equals the query's term count. Nothing scales with the
    * corpus: only arrivals are read; state is the stored-query table.
    */
  def percolate(
      spark: SparkSession,
      arrivals: DataFrame,
      queries: Seq[(Int, Seq[String])]): DataFrame = {
    import spark.implicits._
    val qNorm = queries
      .map { case (qid, ts) => (qid, ts.flatMap(Tokenizer.tokenize).distinct.sorted) }
      .filter(_._2.nonEmpty)
    val qTerms = qNorm
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val qSizes = qNorm.map { case (qid, ts) => (qid, ts.size.toLong) }
      .toDF("query_id", "n_terms")
    val docTerms = arrivals
      .select(col("doc_id"), explode(Tokenizer.tokensCol(col("text"))).as("term"))
      .distinct()
    docTerms
      .join(broadcast(qTerms), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_matched")) // (doc, term) pre-distinct
      .join(broadcast(qSizes), "query_id")
      .where(col("n_matched") === col("n_terms"))
      .select(col("query_id"), col("doc_id"))
      .orderBy(col("query_id"), col("doc_id"))
  }

  /** Percolate entry: arrivals = the deterministic doc_id % 17 slice of
    * the corpus (stand-in for a stream micro-batch), stored queries =
    * [[PercolateQueries]].
    */
  def engPercolate(spark: SparkSession, dir: String): DataFrame =
    percolate(spark, docs(spark, dir).where(col("doc_id") % 17 === 0),
      PercolateQueries)

  def percolateSql(queries: Seq[(Int, Seq[String])] = PercolateQueries): String = {
    val selects = queries.map { case (qid, ts) =>
      val norm = ts.flatMap(Tokenizer.tokenize).distinct.sorted
      s"""SELECT $qid AS query_id, doc_id FROM d
         |WHERE term IN (${norm.map(t => s"'$t'").mkString(", ")})
         |GROUP BY doc_id HAVING count(DISTINCT term) = ${norm.size}""".stripMargin
    }
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |d AS (SELECT DISTINCT doc_id, term FROM tok WHERE doc_id % 17 = 0)
       |SELECT query_id, doc_id FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) u ORDER BY query_id, doc_id""".stripMargin
  }

  /** Did-you-mean probes: a 1-edit misspelling of a common term, a
    * 2-edit one, an exact dictionary hit (distance 0 must rank first),
    * and a gibberish canary with nothing inside the edit ball (emits no
    * rows on either engine).
    */
  final val SuggestProbes: Seq[(Int, String)] = Seq(
    (0, "mergee"),
    (1, "vektor"),
    (2, "spark"),
    (3, "windoww"),
    (4, "zzzqqq"))

  /** DID-YOU-MEAN suggester entry ([[graft.index.Searcher.suggestMany]]
    * — one column-pruned dictionary scan for the whole probe batch,
    * candidates ranked (dist asc, df desc, term asc), integers only).
    */
  def engSuggest(spark: SparkSession, dir: String): DataFrame =
    indexFor(spark, dir).suggestMany(SuggestProbes, n = 5)

  /** Oracle for [[engSuggest]]: the dictionary recomputed from tokens
    * (df = docs containing the term), DuckDB's own `levenshtein` for the
    * edit ball, the identical integer rank — no floats anywhere.
    */
  def suggestSql(probes: Seq[(Int, String)] = SuggestProbes,
      n: Int = 5, maxDist: Int = 2): String = {
    val vals = probes.map { case (id, p) =>
      s"($id, '${Tokenizer.tokenize(p).head}')"
    }.mkString(", ")
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
       |probes(query_id, q) AS (VALUES $vals),
       |cand AS (SELECT p.query_id, d.term,
       |                CAST(levenshtein(d.term, p.q) AS INT) AS dist,
       |                CAST(d.df AS BIGINT) AS df
       |         FROM dict d CROSS JOIN probes p
       |         WHERE levenshtein(d.term, p.q) <= $maxDist)
       |SELECT query_id, CAST(rnk AS INT) AS rank, term, dist, df FROM (
       |  SELECT query_id, term, dist, df,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY dist, df DESC, term) AS rnk
       |  FROM cand) x
       |WHERE rnk <= $n ORDER BY query_id, rank""".stripMargin
  }

  /** Collocation seeds: the reference query's terms plus a
    * dictionary-absent canary (dies at planning, emits nothing).
    */
  final val CollocationSeeds: Seq[String] = Seq("spark", "merge", "dup", "zzznope")

  /** COLLOCATION entry ([[graft.index.Searcher.followersMany]] — the
    * top following-terms per seed, counted from the positions sidecar
    * alone; integer rank (n_pairs desc, follower asc)).
    */
  def engCollocations(spark: SparkSession, dir: String): DataFrame =
    indexFor(spark, dir).followersMany(CollocationSeeds, n = 5)

  /** Oracle for [[engCollocations]]: tokens with 1-based ordinality via
    * `range(1, len+1)`, adjacency self-join, the identical integer rank.
    */
  def collocationsSql(seeds: Seq[String] = CollocationSeeds, n: Int = 5): String = {
    val seedList = seeds.flatMap(Tokenizer.tokenize).distinct.sorted
      .map(t => s"'$t'").mkString(", ")
    s"""WITH d AS (SELECT doc_id, ${Tokenizer.duckdbTokensSql("text")} AS toks FROM documents),
       |idx AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM d),
       |tok AS (SELECT doc_id, i AS pos, toks[i] AS term FROM idx),
       |cnt AS (SELECT a.term AS seed, b.term AS follower, count(*) AS n_pairs
       |        FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |        WHERE a.term IN ($seedList) GROUP BY 1, 2)
       |SELECT seed, CAST(rnk AS INT) AS rank, follower, n_pairs FROM (
       |  SELECT seed, follower, n_pairs,
       |         row_number() OVER (PARTITION BY seed
       |           ORDER BY n_pairs DESC, follower) AS rnk
       |  FROM cnt) x
       |WHERE rnk <= $n ORDER BY seed, rank""".stripMargin
  }

  /** SIGNIFICANT-TERMS entry ([[graft.index.Searcher.significantTerms]]
    * over the reference query's match set — integer basis-point
    * foreground share, ranked (share_bp desc, df_fg desc, term asc)).
    */
  def engSignificantTerms(spark: SparkSession, dir: String): DataFrame =
    indexFor(spark, dir).significantTerms(RefQuery, n = 15)

  /** Oracle for [[engSignificantTerms]]: df recomputed from distinct
    * (doc, term) pairs, the same BIGINT floor-division share — DuckDB
    * `//` and Spark `div` agree on non-negative integers.
    */
  def significantTermsSql(queryTerms: Seq[String] = RefQuery,
      n: Int = 15, minDfFg: Long = 2L): String = {
    val termList = queryTerms.flatMap(Tokenizer.tokenize).distinct.sorted
      .map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |td AS (SELECT DISTINCT doc_id, term FROM tok),
       |m AS (SELECT DISTINCT doc_id FROM td WHERE term IN ($termList)),
       |fg AS (SELECT term, CAST(count(*) AS BIGINT) AS df_fg
       |       FROM td JOIN m USING (doc_id) GROUP BY 1 HAVING count(*) >= $minDfFg),
       |bg AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM td GROUP BY 1)
       |SELECT term, df_fg, df, share_bp, CAST(rnk AS INT) AS rank FROM (
       |  SELECT fg.term AS term, df_fg, df,
       |         CAST((10000 * df_fg) // df AS BIGINT) AS share_bp,
       |         row_number() OVER (ORDER BY (10000 * df_fg) // df DESC,
       |           df_fg DESC, fg.term) AS rnk
       |  FROM fg JOIN bg USING (term)) x
       |WHERE rnk <= $n ORDER BY rank""".stripMargin
  }

  /** Fuzzy probe set: (query_id, probe, maxDist). One multi-term
    * expansion (part~2 → fast/part/sort on this vocabulary), two typo
    * corrections (mergee~1 → merge, qury~1 → query), one expansion-empty
    * canary. The oracle recomputes every expansion itself, so the fixed
    * probes stay honest even if the vocabulary drifts.
    */
  final val FuzzyQueries: Seq[(Int, String, Int)] = Seq(
    (0, "part", 2),
    (1, "mergee", 1),
    (2, "qury", 1),
    (3, "zzzz", 1))

  /** Dictionary-driven FUZZY search (`term~d`), batched: the whole probe
    * set expands in ONE dictionary scan ("within d edits of any probe",
    * the bounded edit-distance DP executor-side), regrouped by probe on
    * the driver, and the expansions ride ONE
    * TAAT batch pass, each matched term weighted by its own idf
    * ([[graft.index.Searcher.searchFuzzyMany]]; per-probe ≡ batched is
    * pinned in RetrievalModesSpec).
    */
  def engFuzzySearch(spark: SparkSession, dir: String): DataFrame =
    indexFor(spark, dir)
      .searchFuzzyMany(FuzzyQueries, K)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(col("query_id"), col("rank"))

  /** Oracle: the expansion recomputed in SQL (`levenshtein(term, probe)
    * <= d` over the distinct-term dictionary), scored with the
    * deterministic sorted-term `list_aggregate` fold (the term set is
    * SQL-derived, so the literal fold can't apply).
    */
  def fuzzySearchSql(queries: Seq[(Int, String, Int)] = FuzzyQueries, k: Int = K): String = {
    val selects = queries.map { case (qid, probe, d) =>
      val q = Tokenizer.tokenize(probe).head
      s"""SELECT $qid AS query_id, CAST(rnk AS INT) AS rank, doc_id, round(score_raw, 4) AS score FROM (
         |  WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
         |  tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |  dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |  st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         |                CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
         |  exp AS (SELECT DISTINCT term FROM tf WHERE levenshtein(term, '$q') <= $d),
         |  dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN (SELECT term FROM exp) GROUP BY 1)
         |  SELECT tf.doc_id,
         |         list_aggregate(list(${graft.query.Bm25.sqlScore("tf.tf", "dfq.df", "dl.dl", "st.n", "st.avgdl")} ORDER BY tf.term), 'sum') AS score_raw,
         |         row_number() OVER (
         |           ORDER BY list_aggregate(list(${graft.query.Bm25.sqlScore("tf.tf", "dfq.df", "dl.dl", "st.n", "st.avgdl")} ORDER BY tf.term), 'sum') DESC, tf.doc_id) AS rnk
         |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  WHERE tf.term IN (SELECT term FROM exp)
         |  GROUP BY tf.doc_id) x
         |WHERE rnk <= $k""".stripMargin
    }
    s"""SELECT query_id, rank, doc_id, score FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) u ORDER BY query_id, rank""".stripMargin
  }

  /** Boolean AND-NOT probe set: (query_id, positive terms, negated
    * terms). One common negation, one multi-term negation, one
    * dictionary-absent negation (reduces to plain disjunctive search),
    * one dead-positive canary, one pos∩neg overlap (the negation wins
    * per-term: `batch` is dropped from scoring, its docs excluded).
    */
  final val NotQueries: Seq[(Int, String, String)] = Seq(
    (0, "spark merge dup", "slow"),
    (1, "key hash join", "customer table"),
    (2, "dup stream", "quantum"),
    (3, "quantum flux", "spark"),
    (4, "merge dup batch", "batch"))

  /** Boolean AND-NOT search (`term -term` mode): top-k over docs
    * matching ANY positive term and NO negated term, scored on the
    * positive terms with the identical sorted-term fold — the negated
    * postings ride the same pruned scan and become a bucket-local
    * exclusion during scoring ([[graft.index.Searcher.searchNot]]), so
    * ranks come from the filtered set and nothing moves to the driver.
    */
  def engBm25Not(spark: SparkSession, dir: String): DataFrame = {
    val s = indexFor(spark, dir)
    val per = parUnionAll(NotQueries.map { case (qid, pos, neg) =>
      () => s.searchNot(pos, neg, K)
        .select(lit(qid).as("query_id"), col("doc_id"), col("score"))
    })
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
    per
      .select(col("query_id"), row_number().over(w).as("rank"),
        col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle: positive-term disjunctive scoring (deterministic literal
    * fold over the engine's effective term list, pos \ neg) with an
    * anti-join against the negated terms' doc set. df for idf is the
    * UNFILTERED document frequency — idf comes from the dictionary, not
    * the surviving set, exactly as the engine scores.
    */
  def bm25NotSql(queries: Seq[(Int, String, String)] = NotQueries, k: Int = K): String = {
    val selects = queries.map { case (qid, pos, neg) =>
      val nts = Tokenizer.tokenize(neg).distinct.sorted.toSeq
      val pts = Tokenizer.tokenize(pos).distinct.sorted.toSeq.filterNot(nts.contains)
      val posList = pts.map(t => s"'$t'").mkString(", ")
      val negList = nts.map(t => s"'$t'").mkString(", ")
      val fold = foldScoreSqlAny(pts)
      s"""SELECT $qid AS query_id, CAST(rnk AS INT) AS rank, doc_id, round(score_raw, 4) AS score FROM (
         |  WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
         |  tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |  dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |  st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         |                CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
         |  dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($posList) GROUP BY 1)
         |  SELECT tf.doc_id,
         |         $fold AS score_raw,
         |         row_number() OVER (
         |           ORDER BY $fold DESC, tf.doc_id) AS rnk
         |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  WHERE tf.term IN ($posList)
         |    AND tf.doc_id NOT IN (SELECT DISTINCT doc_id FROM tf WHERE term IN ($negList))
         |  GROUP BY tf.doc_id) x
         |WHERE rnk <= $k""".stripMargin
    }
    s"""SELECT query_id, rank, doc_id, score FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) u ORDER BY query_id, rank""".stripMargin
  }

  /** Boolean-DSL probe set: (query_id, must, should, mustNot, phrase).
    * Every clause combination: MUST+SHOULD, MUST+SHOULD+NOT,
    * SHOULD+NOT+PHRASE, MUST+SHOULD+PHRASE, SHOULD+NOT (the delegated
    * AND-NOT plan), a dictionary-absent-MUST canary, and a MUST∩NOT
    * unsatisfiable canary. Phrase literals are the contamination probes
    * known to hit at every scale; `sort` as q2's negation filters a
    * phrase doc at sf0.01 while keeping a survivor at both scales
    * (verified tri-scale — non-vacuous gates on both sides).
    */
  final val BoolQueries: Seq[(Int, String, String, String, String)] = Seq(
    (0, "merge dup", "spark stream", "", ""),
    (1, "key", "hash join", "slow", ""),
    (2, "", "spark merge", "sort", "key agg row"),
    (3, "table", "window dup", "", "merge batch part"),
    (4, "", "stream table", "batch", ""),
    (5, "quantum", "spark", "", ""),
    (6, "merge", "dup", "merge", ""))

  /** Unified boolean query (Lucene-style MUST / SHOULD / MUST_NOT /
    * PHRASE in one operator): candidates must contain every MUST term,
    * the verbatim phrase, and no negated term; scores are the identical
    * sorted-term BM25 fold over the effective term set
    * ([[graft.index.Searcher.searchBool]] documents the clause
    * resolution; phrase gates answer from the positions sidecar — the
    * corpus text is never read).
    */
  def engBoolQuery(spark: SparkSession, dir: String): DataFrame = {
    val s = positionalIndexFor(spark, dir)
    val per = parUnionAll(BoolQueries.map { case (qid, m, sh, n, p) =>
      () => s.searchBool(K, must = m, should = sh, mustNot = n, phrase = p)
        .select(lit(qid).as("query_id"), col("doc_id"), col("score"))
    })
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
    per
      .select(col("query_id"), row_number().over(w).as("rank"),
        col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle: raw clause semantics per query — a MUST gate
    * (`HAVING count(DISTINCT must term)` subquery), a PHRASE gate (the
    * same position-arithmetic filter as [[engPhraseSql]]), a NOT
    * anti-join — and the deterministic COALESCE'd sorted-term fold over
    * the effective scoring set (computed here by the same resolution
    * rules the engine documents). The two dead canaries fall out of the
    * raw semantics: an absent MUST term's gate matches nothing, and
    * must∩not contradicts itself — no special-casing, so the oracle
    * independently confirms the engine's planning shortcuts.
    */
  def boolQuerySql(
      queries: Seq[(Int, String, String, String, String)] = BoolQueries,
      k: Int = K): String = {
    val selects = queries.map { case (qid, m, sh, n, p) =>
      val negTs = Tokenizer.tokenize(n).distinct.sorted
      val mustTs = Tokenizer.tokenize(m).distinct.sorted
      val phraseTs = Tokenizer.tokenize(p)
      val scoring = (mustTs ++ Tokenizer.tokenize(sh).distinct ++ phraseTs)
        .distinct.sorted.filterNot(negTs.contains).toSeq
      val sList = scoring.map(t => s"'$t'").mkString(", ")
      val fold = foldScoreSqlAny(scoring)
      val gates = new scala.collection.mutable.ArrayBuffer[String]
      if (mustTs.nonEmpty) {
        val mList = mustTs.map(t => s"'$t'").mkString(", ")
        gates += s"""tf.doc_id IN (SELECT doc_id FROM tf WHERE term IN ($mList)
                     |      GROUP BY doc_id HAVING count(DISTINCT term) = ${mustTs.length})""".stripMargin
      }
      if (phraseTs.nonEmpty) {
        val conds = phraseTs.zipWithIndex
          .map { case (t, j) => s"toks[i + $j] = '$t'" }.mkString(" AND ")
        gates += s"""tf.doc_id IN (SELECT doc_id FROM d
                     |      WHERE len(list_filter(range(1, len(toks) + 2 - ${phraseTs.length}), i -> $conds)) > 0)""".stripMargin
      }
      if (negTs.nonEmpty) {
        val nList = negTs.map(t => s"'$t'").mkString(", ")
        gates += s"tf.doc_id NOT IN (SELECT DISTINCT doc_id FROM tf WHERE term IN ($nList))"
      }
      val gateClause = if (gates.isEmpty) "" else gates.mkString("\n    AND ", "\n    AND ", "")
      s"""SELECT $qid AS query_id, CAST(rnk AS INT) AS rank, doc_id, round(score_raw, 4) AS score FROM (
         |  WITH d AS (SELECT doc_id, ${Tokenizer.duckdbTokensSql("text")} AS toks FROM documents),
         |  tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
         |  tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |  dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |  st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         |                CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
         |  dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($sList) GROUP BY 1)
         |  SELECT tf.doc_id,
         |         $fold AS score_raw,
         |         row_number() OVER (
         |           ORDER BY $fold DESC, tf.doc_id) AS rnk
         |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  WHERE tf.term IN ($sList)$gateClause
         |  GROUP BY tf.doc_id) x
         |WHERE rnk <= $k""".stripMargin
    }
    s"""SELECT query_id, rank, doc_id, score FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) u ORDER BY query_id, rank""".stripMargin
  }

  /** Build-lineage metrics probe (the north rule's per-partition lineage
    * + metrics tables, surfaced as a queryable entry): the committed
    * manifest rows whose row counts are pure functions of the corpus —
    * doclens (rows = n_docs) and dict (rows = n_terms) — checked against
    * direct SQL recomputation. A resumed build appends nothing (stages
    * skip), so the latest row per stage is the one build that ran.
    */
  def engManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    indexFor(spark, dir)
    graft.index.Meta.readManifest(indexRoot(dir))
      .filter(m => m.stage == "doclens" || m.stage == "dict")
      .groupBy(_.stage).map { case (_, ms) => ms.last }
      .map(m => (m.stage, m.rows, m.status))
      .toSeq.sortBy(_._1)
      .toDF("stage", "n_rows", "status")
  }

  val engManifestSql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents)
       |SELECT * FROM (
       |  SELECT 'dict' AS stage, CAST(count(DISTINCT term) AS BIGINT) AS n_rows, 'committed' AS status FROM tok
       |  UNION ALL
       |  SELECT 'doclens', CAST(count(DISTINCT doc_id) AS BIGINT), 'committed' FROM tok
       |) u ORDER BY stage""".stripMargin

  /** Engine WAND top-k; oracle = the same SQL as the declarative path. */
  def engBm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val s = indexFor(spark, dir)
    s.search(RefQuery.mkString(" "), K)
      .select(col("doc_id"), round(col("score"), 4).as("score"))
  }

  /** Serving-mode hot search (`Searcher.searchHot`: driver-side WAND over
    * resident postings, zero Spark jobs per warm query) — must match the
    * SAME SQL oracle as the distributed path, proving the serving path
    * changes latency, never results.
    */
  def engBm25Hot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = indexFor(spark, dir, cacheHot = true)
    s.searchHot(RefQuery.mkString(" "), K).toSeq
      .toDF("doc_id", "score")
      .select(col("doc_id"), round(col("score"), 4).as("score"))
  }

  /** Engine exact (unpruned) top-k — `exact=true` flag analog. */
  def engBm25Exact(spark: SparkSession, dir: String): DataFrame = {
    val s = indexFor(spark, dir)
    s.searchExact(RefQuery.mkString(" "), K)
      .select(col("doc_id"), round(col("score"), 4).as("score"))
  }

  /** SEARCH-AFTER deep pagination entry: pages 2 and 3 of the reference
    * query fetched by chained cursors
    * ([[graft.index.Searcher.searchAfter]] — each page is a fresh
    * k-sized WAND, never a k·page re-merge). `rank` is the GLOBAL rank
    * (11..30), so the oracle is one row_number window sliced to the two
    * pages.
    */
  def engSearchAfter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = indexFor(spark, dir)
    val q = RefQuery.mkString(" ")
    var cursor = s.search(q, K).as[(Long, Double)].collect().last match {
      case (d, sc) => (sc, d)
    }
    val pages = (2 to 3).map { page =>
      val hits = s.searchAfter(q, K, cursor).as[(Long, Double)].collect()
      cursor = (hits.last._2, hits.last._1)
      hits.zipWithIndex.map { case ((d, sc), i) =>
        (page, (page - 1) * K + i + 1, d, sc)
      }.toSeq
    }
    pages.flatten
      .toDF("page", "rank", "doc_id", "score")
      .select(col("page"), col("rank"), col("doc_id"),
        round(col("score"), 4).as("score"))
      .orderBy(col("rank"))
  }

  /** Oracle for [[engSearchAfter]]: the full-corpus fold ranking sliced
    * to global ranks k+1..3k (`//` keeps the page arithmetic integral —
    * DuckDB CAST on a double ROUNDS).
    */
  def searchAfterSql(queryTerms: Seq[String] = RefQuery, k: Int = K): String = {
    val terms = queryTerms.distinct.sorted
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val fold = foldScoreSqlAny(terms)
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
       |              CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl)
       |SELECT CAST((rnk - 1) // $k + 1 AS INT) AS page, CAST(rnk AS INT) AS rank,
       |  doc_id, round(score_raw, 4) AS score FROM (
       |  SELECT tf.doc_id, $fold AS score_raw,
       |         row_number() OVER (ORDER BY $fold DESC, tf.doc_id) AS rnk
       |  FROM tf JOIN (SELECT term, count(*) AS df FROM tf WHERE term IN ($termList) GROUP BY 1) dfq USING (term)
       |  JOIN dl USING (doc_id) CROSS JOIN st
       |  WHERE tf.term IN ($termList)
       |  GROUP BY tf.doc_id) x
       |WHERE rnk > $k AND rnk <= ${3 * k}
       |ORDER BY rank""".stripMargin
  }

  /** Fixed query set for the batched engine entry. */
  final val ManyQueries: Seq[(Int, String)] = Seq(
    (0, RefQuery.mkString(" ")),
    (1, "index merge commit"),
    (2, "dedup hash table"))

  /** Engine batched search (`search_many`): ALL queries in one
    * distributed pass — one pruned postings scan over the union of query
    * terms, per-bucket WAND per query, windowed per-query top-k. Checked
    * against the per-query SQL oracle ([[bm25TopKManySql]]).
    */
  def engBm25Many(spark: SparkSession, dir: String): DataFrame = {
    val s = indexFor(spark, dir)
    s.searchMany(ManyQueries, K)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("score"), 4).as("score"))
  }

  /** Filtered batched search — the doc predicate gates the top-k offer
    * inside the TAAT scorer (ranks come from the filtered set, the
    * `filtered_search` semantics), batched. The oracle applies the same
    * predicate inside the per-query scoring subquery.
    */
  def engBm25ManyFiltered(spark: SparkSession, dir: String): DataFrame = {
    val s = indexFor(spark, dir)
    s.searchMany(ManyQueries, K, allow = Some((d: Long) => d % 3 == 0))
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("score"), 4).as("score"))
  }

  /** UNION ALL of per-query oracles, each the [[bm25TopKSql]] math with
    * a rank column.
    */
  def bm25TopKManySql(queries: Seq[(Int, String)] = ManyQueries, k: Int = K,
      docFilterSql: String = ""): String =
    queries.map { case (qid, q) =>
      val terms = Tokenizer.tokenize(q).distinct.sorted.toSeq
      val termList = terms.map(t => s"'$t'").mkString(", ")
      val filterClause = if (docFilterSql.isEmpty) "" else s" AND $docFilterSql"
      val fold = foldScoreSqlAny(terms)
      s"""SELECT $qid AS query_id, CAST(rnk AS INT) AS rank, doc_id, round(score_raw, 4) AS score FROM (
         |  WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
         |  tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |  dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |  st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         |                CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
         |  dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($termList) GROUP BY 1)
         |  SELECT tf.doc_id,
         |         $fold AS score_raw,
         |         row_number() OVER (
         |           ORDER BY $fold DESC, tf.doc_id) AS rnk
         |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  WHERE tf.term IN ($termList)$filterClause
         |  GROUP BY tf.doc_id) x
         |WHERE rnk <= $k""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY query_id, rank")

  /** Engine index statistics (the `stats()`/`memory_usage` analog,
    * /root/reference/include/usearch/index.hpp:3133-3210) — checked
    * against direct SQL recomputation over the corpus.
    */
  def engStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = indexFor(spark, dir).stats
    Seq((s.nDocs, s.totalTokens, s.nTerms, s.totalPostings))
      .toDF("n_docs", "total_tokens", "n_terms", "total_postings")
  }

  /** Score EXPLAIN entry (the Lucene `explain` analog): per-(doc, term)
    * BM25 breakdown of the reference query's top-k
    * ([[graft.index.Searcher.explain]] — the k hits are the only
    * driver-side rows; the breakdown is one pruned, bucket-filtered
    * segments read decoded executor-side). `part` is a single-term
    * double (no accumulation) so 4 dp rounding is cross-engine safe;
    * `score` is the usual sorted-term fold.
    */
  def engExplain(spark: SparkSession, dir: String): DataFrame =
    indexFor(spark, dir).explain(RefQuery.mkString(" "), K)
      .select(col("rank"), col("doc_id"), col("term"),
        col("tf"), col("df"), round(col("part_raw"), 4).as("part"),
        round(col("score_raw"), 4).as("score"))
      .orderBy(col("rank"), col("term"))

  /** Oracle for [[engExplain]]: the top-k fold subquery joined back to
    * the per-(doc, term) tf table, each part recomputed with the same
    * [[graft.query.Bm25.sqlScore]] formula string both engines evaluate.
    */
  def explainSql(queryTerms: Seq[String] = RefQuery, k: Int = K): String = {
    val terms = queryTerms.distinct.sorted
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val fold = foldScoreSqlAny(terms)
    val part = graft.query.Bm25.sqlScore("tf.tf", "dfq.df", "dl.dl", "st.n", "st.avgdl")
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
       |              CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
       |dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($termList) GROUP BY 1),
       |topk AS (SELECT * FROM (
       |  SELECT tf.doc_id, $fold AS score_raw,
       |         row_number() OVER (ORDER BY $fold DESC, tf.doc_id) AS rnk
       |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       |  WHERE tf.term IN ($termList)
       |  GROUP BY tf.doc_id) WHERE rnk <= $k)
       |SELECT CAST(t.rnk AS INT) AS rank, t.doc_id, tf.term, tf.tf, dfq.df,
       |  round($part, 4) AS part, round(t.score_raw, 4) AS score
       |FROM topk t
       |JOIN tf ON tf.doc_id = t.doc_id AND tf.term IN ($termList)
       |JOIN dfq ON dfq.term = tf.term
       |JOIN dl ON dl.doc_id = tf.doc_id
       |CROSS JOIN st
       |ORDER BY rank, tf.term""".stripMargin
  }

  /** Index AUDIT entry (fsck): every cross-table invariant of the stored
    * index recomputed from the decoded bytes
    * ([[graft.index.Searcher.integrityReport]]), positions sidecar
    * included. The corpus scalars are recomputed from the SEGMENTS, so
    * the oracle's raw-corpus recomputation transitively pins stored
    * bytes ↔ corpus; the mismatch counters must all be zero (a healthy
    * index — IntegritySpec pins that seeded corruption is detected).
    */
  def engFsck(spark: SparkSession, dir: String): DataFrame =
    positionalIndexFor(spark, dir).integrityReport(checkPositions = true)

  val engFsckSql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2)
       |SELECT count(DISTINCT doc_id) AS n_docs,
       |  CAST(sum(tf) AS BIGINT) AS total_tokens,
       |  count(DISTINCT term) AS n_terms,
       |  count(*) AS n_postings,
       |  CAST(0 AS BIGINT) AS bad_df, CAST(0 AS BIGINT) AS bad_dict,
       |  CAST(0 AS BIGINT) AS bad_doclen, CAST(0 AS BIGINT) AS bad_meta,
       |  CAST(0 AS BIGINT) AS bad_pos
       |FROM tf""".stripMargin

  val engStatsSql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents)
       |SELECT count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS total_tokens,
       |  count(DISTINCT term) AS n_terms,
       |  count(DISTINCT (doc_id, term)) AS total_postings
       |FROM tok""".stripMargin

  /** Bucket width pinned for the levels-stats entry so the DuckDB oracle
    * can recompute bucket ids (`doc_id // 256`) without knowing the
    * session's parallelism (the default auto geometry depends on it).
    */
  final val LevelsBucketSize = 256L

  /** Per-generation / per-bucket index statistics — the `stats(level)`
    * analog (/root/reference/include/usearch/index.hpp:3133-3210 reports
    * per-level node/edge/byte breakdowns; graft's levels are LSM
    * generations × docId buckets). Two generations (doc_id parity) are
    * built with a PINNED shared bucket width, then each index's
    * [[graft.index.Searcher.levelsStats]] — one metadata-only groupBy —
    * is union'd under its generation id. The oracle recomputes every
    * count from the raw corpus.
    */
  def engLevelsStats(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^a-zA-Z0-9.]", "_")
    val tmp = sys.props("java.io.tmpdir")
    parUnionAll(Seq(0, 1).map { g =>
      () => {
        val root = s"$tmp/graft-lvl-$g-$key"
        genBuild(spark, dir, root, parity = g, fixedBucketSize = LevelsBucketSize)
        new Searcher(spark, root).levelsStats()
          .select(lit(g).as("generation"), col("bucket"), col("n_docs"),
            col("n_tokens"), col("n_terms"), col("n_postings"))
      }
    })
      .orderBy(col("generation"), col("bucket"))
  }

  val engLevelsStatsSql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(${graft.analyze.Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2)
       |SELECT CAST(doc_id % 2 AS INT) AS generation,
       |  CAST(doc_id // $LevelsBucketSize AS INT) AS bucket,
       |  count(DISTINCT doc_id) AS n_docs, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |  count(DISTINCT term) AS n_terms, count(*) AS n_postings
       |FROM tf GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** More-like-this: top-k documents most similar to a query DOCUMENT —
    * the document-to-document retrieval a dedup/curation pipeline runs
    * ("what else in the corpus looks like this eval sample"). The query
    * doc's terms are ranked rarest-first — (df asc, tf desc, term asc),
    * all integers, so the selection is exact cross-engine without
    * comparing float idf values — and the top `nSel` become a standard
    * engine BM25 query; the query doc itself is excluded via the
    * filtered-search predicate (global stats untouched, the reference's
    * filtered-search semantics, index_dense.hpp:774-779).
    *
    * Scale shape: ONE row fetch (the query doc), driver-side tokenize of
    * that single doc, ONE pruned dictionary read for its terms' dfs
    * ([[Searcher.termDfs]]), then the normal pruned WAND search — the
    * corpus is never re-tokenized to plan the query.
    */
  def engMoreLikeThis(spark: SparkSession, dir: String, qDoc: Long = 0L,
      nSel: Int = 5, k: Int = K): DataFrame = {
    val s = indexFor(spark, dir)
    val text = docs(spark, dir).where(col("doc_id") === qDoc)
      .select(col("text")).head().getString(0)
    val tfq = Tokenizer.tokenize(text)
      .groupBy(identity).map { case (t, xs) => t -> xs.length }
    val dfs = s.termDfs(tfq.keys.toSeq.sorted)
    val sel = tfq.keys.toSeq
      .map(t => (dfs.getOrElse(t, 0L), -tfq(t), t))
      .filter(_._1 > 0L)
      .sorted
      .take(nSel)
      .map(_._3)
    s.search(sel.mkString(" "), k, allow = Some((d: Long) => d != qDoc))
      .select(col("doc_id"), round(col("score"), 4).as("score"))
  }

  /** Oracle for [[engMoreLikeThis]]: the same rarest-first selection and
    * BM25 math, with the selected terms as a CTE instead of a literal
    * list (the oracle recomputes the selection, it is not told it).
    */
  def engMoreLikeThisSql(qDoc: Long = 0L, nSel: Int = 5, k: Int = K): String =
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
       |              CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
       |qtf AS (SELECT term, tf FROM tf WHERE doc_id = $qDoc),
       |dfq AS (SELECT term, count(*) AS df FROM tf
       |        WHERE term IN (SELECT term FROM qtf) GROUP BY 1),
       |sel AS (SELECT q.term, d.df FROM qtf q JOIN dfq d USING (term)
       |        ORDER BY d.df, q.tf DESC, q.term LIMIT $nSel),
       |scores AS (
       |  SELECT tf.doc_id,
       |         list_aggregate(list(${graft.query.Bm25.sqlScore("tf.tf", "sel.df", "dl.dl", "st.n", "st.avgdl")} ORDER BY tf.term), 'sum') AS score_raw
       |  FROM tf JOIN sel USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       |  WHERE tf.doc_id <> $qDoc
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, round(score_raw, 4) AS score
       |FROM scores ORDER BY score_raw DESC, doc_id LIMIT $k""".stripMargin

  /** Fixed query-doc set for the batched more-like-this entry. */
  final val MltQueryDocs: Seq[Long] = Seq(0L, 1L, 2L)

  /** Batched more-like-this: one TAAT pass answers every query
    * document's MLT query ([[Searcher.searchMany]] decodes each selected
    * term once per bucket for the whole batch). Per-doc term selection is
    * the same integer rarest-first rule as [[engMoreLikeThis]], planned
    * from one bounded row fetch + one pruned dictionary read. Self
    * exclusion uses k+1-then-drop: the engine's total order
    * (score desc, doc_id asc) makes "top-(k+1), drop self, keep k"
    * identical to "top-k over non-self docs" whether or not the query
    * doc lands in the prefix.
    */
  def engMoreLikeThisMany(spark: SparkSession, dir: String,
      qDocs: Seq[Long] = MltQueryDocs, nSel: Int = 5, k: Int = K): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = indexFor(spark, dir)
    val texts = docs(spark, dir).where(col("doc_id").isin(qDocs: _*))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch: Seq[(Int, String)] = qDocs.zipWithIndex.map { case (qd, qi) =>
      val tfq = Tokenizer.tokenize(texts(qd))
        .groupBy(identity).map { case (t, xs) => t -> xs.length }
      val dfs = s.termDfs(tfq.keys.toSeq.sorted)
      val sel = tfq.keys.toSeq
        .map(t => (dfs.getOrElse(t, 0L), -tfq(t), t))
        .filter(_._1 > 0L).sorted.take(nSel).map(_._3)
      (qi, sel.mkString(" "))
    }
    val selfIds = {
      import spark.implicits._
      broadcast(qDocs.zipWithIndex.map { case (qd, qi) => (qi, qd) }
        .toDF("query_id", "self_id"))
    }
    // the re-rank window runs over ≤ (k+1) rows per query — final-result
    // cosmetics, not a data-scale window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("score_raw"), asc("doc_id"))
    s.searchMany(batch, k + 1)
      .withColumnRenamed("score", "score_raw")
      .join(selfIds, "query_id")
      .where(col("doc_id") =!= col("self_id"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("score_raw"), 4).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle for [[engMoreLikeThisMany]]: per-query-doc MLT SQL (selection
    * recomputed, self excluded, ranked) UNION ALL'd.
    */
  def engMoreLikeThisManySql(qDocs: Seq[Long] = MltQueryDocs,
      nSel: Int = 5, k: Int = K): String =
    qDocs.zipWithIndex.map { case (qd, qi) =>
      s"""SELECT $qi AS query_id, CAST(rnk AS INT) AS rank, doc_id, round(score_raw, 4) AS score FROM (
         |  WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
         |  tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |  dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |  st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         |                CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
         |  qtf AS (SELECT term, tf FROM tf WHERE doc_id = $qd),
         |  dfq AS (SELECT term, count(*) AS df FROM tf
         |          WHERE term IN (SELECT term FROM qtf) GROUP BY 1),
         |  sel AS (SELECT q.term, d.df FROM qtf q JOIN dfq d USING (term)
         |          ORDER BY d.df, q.tf DESC, q.term LIMIT $nSel)
         |  SELECT tf.doc_id,
         |         list_aggregate(list(${graft.query.Bm25.sqlScore("tf.tf", "sel.df", "dl.dl", "st.n", "st.avgdl")} ORDER BY tf.term), 'sum') AS score_raw,
         |         row_number() OVER (
         |           ORDER BY list_aggregate(list(${graft.query.Bm25.sqlScore("tf.tf", "sel.df", "dl.dl", "st.n", "st.avgdl")} ORDER BY tf.term), 'sum') DESC, tf.doc_id) AS rnk
         |  FROM tf JOIN sel USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  WHERE tf.doc_id <> $qd
         |  GROUP BY tf.doc_id) x
         |WHERE rnk <= $k""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY query_id, rank")

  /** Multi-generation scatter-gather (the `Indexes` analog): the corpus
    * split into two disjoint generations, searched with shared global
    * stats, merged — must match the same single-corpus SQL oracle.
    */
  def engBm25MultiGen(spark: SparkSession, dir: String): DataFrame =
    mgenSearcher(spark, dir)
      .search(RefQuery.mkString(" "), K)
      .select(col("doc_id"), round(col("score"), 4).as("score"))

  /** Multi-generation BATCHED search: `MultiSearcher.searchMany` unions
    * each generation's per-bucket TAAT partials (scored with the shared
    * global stats) and merges once — must match the same per-query SQL
    * oracle as the single-index batch ([[bm25TopKManySql]]), because the
    * generations partition the corpus.
    */
  def engBm25ManyMultiGen(spark: SparkSession, dir: String): DataFrame =
    mgenSearcher(spark, dir)
      .searchMany(ManyQueries, K)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("score"), 4).as("score"))

  /** Multi-generation CONJUNCTIVE search: per-shard all-terms
    * intersections (complete shard-locally — a doc lives in one
    * generation) scored with shared global stats, one bounded merge.
    * Same oracle as the single-index AND entry, because the generations
    * partition the corpus.
    */
  def engBm25AndMultiGen(spark: SparkSession, dir: String): DataFrame =
    mgenSearcher(spark, dir)
      .searchConjunctiveMany(AndQueries, K)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("score"), 4).as("score"))

  /** Multi-generation index-only PROXIMITY search: union of per-shard
    * positional sweeps (disjoint doc spaces — containment needs no
    * statistics). Same oracle as the single-index entry.
    */
  def engProximityMultiGen(spark: SparkSession, dir: String): DataFrame =
    mgenSearcher(spark, dir, positional = true).proximityMany(ProximityQueries)

  /** The corpus split into two disjoint generations (cached index roots,
    * shared by the multigen entries). `positional = true` also builds
    * each generation's positions sidecar (its own committed stage —
    * a later frequency-only caller reuses the same roots untouched).
    */
  private def mgenSearcher(spark: SparkSession, dir: String,
      positional: Boolean = false): graft.index.MultiSearcher =
    new graft.index.MultiSearcher(spark, mgenRoots(spark, dir, positional))

  /** The two generation roots themselves — also the snapshot handles for
    * [[engTimeTravel]] (a generation is an immutable snapshot boundary).
    */
  private def mgenRoots(spark: SparkSession, dir: String,
      positional: Boolean = false): Seq[String] = {
    val key = dir.replaceAll("[^a-zA-Z0-9.]", "_")
    val tmp = sys.props("java.io.tmpdir")
    val d = docs(spark, dir)
    val rootA = s"$tmp/graft-mgen-a-$key"
    val rootB = s"$tmp/graft-mgen-b-$key"
    // the two generations are independent builds over disjoint roots:
    // run generation A on a driver thread while B runs inline, so each
    // build's stage tails back-fill the executor slots the other leaves
    // idle (same overlap argument as the doclens/segments stages; commit
    // markers make a half-done concurrent attempt resume exactly like a
    // half-done sequential one)
    val fa = IndexBuilder.stagePool.submit(new Runnable {
      override def run(): Unit = {
        genBuild(spark, dir, rootA, parity = 0)
        if (positional)
          IndexBuilder.buildPositions(spark, d.where(col("doc_id") % 2 === 0), rootA,
            idCol = "doc_id", textCol = "text")
      }
    })
    try {
      genBuild(spark, dir, rootB, parity = 1)
      if (positional)
        IndexBuilder.buildPositions(spark, d.where(col("doc_id") % 2 === 1), rootB,
          idCol = "doc_id", textCol = "text")
    } finally fa.get()
    Seq(rootA, rootB)
  }

  // ------------------------------------------------------------------
  // Round-5 second wave: ordered spans, hit counts, field sort,
  // dis-max scoring, cardinality sketch
  // ------------------------------------------------------------------

  /** Ordered-span probe set: (0) a live bigram, (1) a live trigram,
    * (2) probe 0 REVERSED — the entry's hit set differs from (0) exactly
    * where order matters, the property an unordered NEAR can't express,
    * (3) a dictionary-absent canary (dead at planning).
    */
  final val SpanOrderedQueries: Seq[(Int, String, Int)] = Seq(
    (0, "dup spark", 10),
    (1, "key hash join", 14),
    (2, "spark dup", 10),
    (3, "quantum flux", 5))

  /** Index-only ORDERED-SPAN search over the fixed probe set (the
    * `span_near(in_order=true)` shape next to [[engProximity]]'s
    * unordered NEAR): tokens must appear in query order at strictly
    * increasing positions within the window
    * ([[graft.index.Searcher.spanOrderedMany]]).
    */
  def engSpanOrdered(spark: SparkSession, dir: String): DataFrame =
    positionalIndexFor(spark, dir).spanOrderedMany(SpanOrderedQueries)

  /** Oracle: the cross-join definition — min over all ORDERED position
    * tuples p0 < p1 < … (one per query token, in query order) of
    * (p_last − p0 + 1), leftmost start among the minimal tuples; the
    * (span, start) lexicographic min rides one BIGINT span·2²⁰ + start
    * exactly like [[engProximitySql]]. Integers only.
    */
  def spanOrderedSql(queries: Seq[(Int, String, Int)] = SpanOrderedQueries): String = {
    val enc = 1048576L
    val selects = queries.map { case (qid, q, w) =>
      val ts = Tokenizer.tokenize(q)
      val lists = ts.zipWithIndex.map { case (t, j) =>
        s"""(SELECT doc_id, unnest(list_filter(range(1, len(toks) + 1), x -> toks[x] = '$t')) - 1 AS p$j
           |   FROM d) q$j""".stripMargin
      }
      val joins = lists.head +: lists.tail.map(l => s"JOIN $l USING (doc_id)")
      val ordered = ts.indices.drop(1).map(j => s"p${j - 1} < p$j")
      val whereSql = if (ordered.isEmpty) "" else ordered.mkString("\n    WHERE ", " AND ", "")
      val last = ts.length - 1
      s"""SELECT $qid AS query_id, doc_id,
         |    CAST(min(enc) // $enc AS BIGINT) AS min_span,
         |    CAST(min(enc) % $enc AS BIGINT) AS span_start
         |  FROM (
         |    SELECT doc_id,
         |      (p$last - p0 + 1) * $enc + p0 AS enc
         |    FROM ${joins.mkString("\n    ")}$whereSql
         |  ) e
         |  GROUP BY doc_id
         |  HAVING CAST(min(enc) // $enc AS BIGINT) <= $w""".stripMargin
    }
    s"""WITH d AS (SELECT doc_id, ${Tokenizer.duckdbTokensSql("text")} AS toks FROM documents)
       |SELECT query_id, doc_id, min_span, span_start FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) u ORDER BY query_id, doc_id""".stripMargin
  }

  /** Multi-generation ORDERED-SPAN search: union of per-shard positional
    * sweeps over two uncompacted generations (disjoint doc spaces —
    * containment needs no statistics). Same oracle as the single-index
    * entry.
    */
  def engSpanOrderedMultiGen(spark: SparkSession, dir: String): DataFrame =
    mgenSearcher(spark, dir, positional = true).spanOrderedMany(SpanOrderedQueries)

  /** Hit-count probe set: the conjunctive probes (rare, common, mixed)
    * plus a partially-dead query (live term + absent terms — the live
    * term still counts) and a fully-dead canary (reports 0, 0).
    */
  final val CountQueries: Seq[(Int, String)] =
    AndQueries ++ Seq((4, "quantum flux"))

  /** Index-only batched HIT COUNTING (`count` API / total-hits):
    * (n_docs, total_tf) per disjunctive query from postings alone
    * ([[graft.index.Searcher.countMany]]). Integers only.
    */
  def engCountQuery(spark: SparkSession, dir: String): DataFrame =
    indexFor(spark, dir).countMany(CountQueries)

  /** Oracle: per query, distinct matched docs + summed term occurrences
    * over the tokenized corpus (DuckDB `sum(BIGINT)` is HUGEINT → one
    * BIGINT cast; a dead query's NULL sum coalesces to the engine's 0).
    */
  def countQuerySql(queries: Seq[(Int, String)] = CountQueries): String = {
    val selects = queries.map { case (qid, q) =>
      val ts = Tokenizer.tokenize(q).distinct.sorted
      val termList = ts.map(t => s"'$t'").mkString(", ")
      s"""SELECT $qid AS query_id, count(DISTINCT doc_id) AS n_docs,
         |  COALESCE(CAST(sum(tf) AS BIGINT), 0) AS total_tf
         |FROM tf WHERE term IN ($termList)""".stripMargin
    }
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2)
       |SELECT query_id, n_docs, total_tf FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) u ORDER BY query_id""".stripMargin
  }

  /** SORT-BY-FIELD search (the `sort` clause): docs matching the fixed
    * disjunctive query, top-k by (doc length desc, doc_id asc) where the
    * length is the index's own doclens norm
    * ([[graft.index.Searcher.searchSortedByLen]]). Integers only.
    */
  def engSortByLen(spark: SparkSession, dir: String): DataFrame =
    indexFor(spark, dir).searchSortedByLen(RefQuery.mkString(" "), K)

  /** Oracle: matched docs joined to the recomputed per-doc token count,
    * ranked (dl desc, doc_id asc). */
  def sortByLenSql(terms: Seq[String] = RefQuery, k: Int = K): String = {
    val termList = terms.flatMap(Tokenizer.tokenize).distinct.sorted
      .map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |hits AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ($termList))
       |SELECT CAST(row_number() OVER (ORDER BY dl DESC, doc_id) AS INT) AS rank,
       |  doc_id, dl
       |FROM hits JOIN dl USING (doc_id)
       |ORDER BY rank LIMIT $k""".stripMargin
  }

  /** The dis-max tie breaker: ¼ is an exact binary fraction, so both
    * engines' `best + tie · (sum − best)` are the same three IEEE ops.
    */
  final val DisMaxTie = 0.25

  /** DISJUNCTION-MAX scored search (the Lucene `dis_max` analog): the
    * best single term dominates, the others contribute tie · part
    * ([[graft.index.Searcher.searchDisMax]]).
    */
  def engDisMax(spark: SparkSession, dir: String): DataFrame =
    indexFor(spark, dir).searchDisMax(RefQuery, DisMaxTie, K)
      .select(col("doc_id"), round(col("score"), 4).as("score"))

  /** Oracle for [[engDisMax]]: per-term BM25 parts as columns (absent →
    * exact 0.0), sum = the ascending-term `+` chain (the engine's left
    * fold), best = `greatest` (max of the always-positive parts vs the
    * 0.0 floor is order-free and exact), then the identical
    * `mx + 0.25 * (s − mx)` association, rounded at 4 dp.
    */
  def disMaxSql(terms: Seq[String] = RefQuery, tie: Double = DisMaxTie,
      k: Int = K): String = {
    val sorted = terms.flatMap(Tokenizer.tokenize).distinct.sorted
    val termList = sorted.map(t => s"'$t'").mkString(", ")
    val part = graft.query.Bm25.sqlScore("tf.tf", "dfq.df", "dl.dl", "st.n", "st.avgdl")
    val partCols = sorted.zipWithIndex.map { case (t, j) =>
      s"COALESCE(MAX(CASE WHEN tf.term = '$t' THEN ($part) END), 0.0) AS c$j"
    }
    val sumExpr = sorted.indices.map(j => s"c$j").mkString("(", " + ", ")")
    val maxExpr =
      if (sorted.length == 1) "c0"
      else s"greatest(${sorted.indices.map(j => s"c$j").mkString(", ")})"
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
       |              CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
       |dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($termList) GROUP BY 1),
       |parts AS (
       |  SELECT tf.doc_id, ${partCols.mkString(",\n    ")}
       |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       |  WHERE tf.term IN ($termList)
       |  GROUP BY tf.doc_id),
       |scores AS (
       |  SELECT doc_id,
       |    ($maxExpr + (CAST('$tie' AS DOUBLE)) * ($sumExpr - $maxExpr)) AS score_raw
       |  FROM parts)
       |SELECT doc_id, round(score_raw, 4) AS score
       |FROM scores
       |ORDER BY score_raw DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  /** Terms-enum probe set: a dense one-letter prefix, a sparser
    * two-letter prefix, and an expansion-empty canary (no rows).
    */
  final val TermsEnumPrefixes: Seq[(Int, String)] =
    Seq((0, "s"), (1, "ma"), (2, "zzq"))
  final val TermsEnumN = 8

  /** Dictionary TERMS-ENUM (vocabulary browsing): first n terms per
    * prefix in term order, with df — answered from the dictionary
    * alone ([[graft.index.Searcher.termsEnum]]).
    */
  def engTermsEnum(spark: SparkSession, dir: String): DataFrame =
    indexFor(spark, dir).termsEnum(TermsEnumPrefixes, TermsEnumN)

  /** Oracle: df recomputed from distinct (doc, term) pairs, prefix via
    * LIKE (probes are [a-z]+ — no LIKE metacharacters). */
  def termsEnumSql(prefixes: Seq[(Int, String)] = TermsEnumPrefixes,
      n: Int = TermsEnumN): String = {
    val selects = prefixes.map { case (id, p) =>
      s"""SELECT $id AS prefix_id, term, df FROM (
         |  SELECT term, count(DISTINCT doc_id) AS df FROM tok
         |  WHERE term LIKE '$p%' GROUP BY term ORDER BY term LIMIT $n) s$id""".stripMargin
    }
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents)
       |SELECT prefix_id, term, df FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) u ORDER BY prefix_id, term""".stripMargin
  }

  /** The percentile probe set for the doc-length readout. */
  final val LenPercentilesP: Seq[Int] = Seq(50, 90, 99)

  /** Index-only DOC-LENGTH PERCENTILES over the doclens norms
    * ([[graft.index.Searcher.lenPercentiles]]). Integers only (the
    * "lower" interpolation rule — no float interpolation crosses the
    * engine boundary).
    */
  def engLenPercentiles(spark: SparkSession, dir: String): DataFrame =
    indexFor(spark, dir).lenPercentiles(LenPercentilesP)

  /** Oracle: the rank-selection definition — the (⌊(n−1)·p/100⌋+1)-th
    * smallest recomputed doc length (ties among equal lengths leave the
    * selected VALUE well-defined whatever the row_number tie order). */
  def lenPercentilesSql(ps: Seq[Int] = LenPercentilesP): String = {
    val selects = ps.map { p =>
      s"""SELECT $p AS p, dl FROM r, n WHERE rn = ((n.n - 1) * $p) // 100 + 1"""
    }
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
       |r AS (SELECT dl, row_number() OVER (ORDER BY dl) AS rn FROM d),
       |n AS (SELECT count(*) AS n FROM d)
       |SELECT p, dl FROM (
       |${selects.mkString("\nUNION ALL\n")}
       |) u ORDER BY p""".stripMargin
  }

  /** Phrase-prefix probe: head "merge" + prefix "b" expands over the
    * dictionary to {batch, big} — a genuinely multi-expansion probe
    * (the contamination fixture guarantees "merge batch" occurs).
    */
  final val PhrasePrefixHead = "merge"
  final val PhrasePrefixSuffix = "b"

  /** Index-only PHRASE-PREFIX search (`match_phrase_prefix` /
    * type-ahead): head tokens followed immediately by any dictionary
    * term with the prefix ([[graft.index.Searcher.phrasePrefix]]).
    */
  def engPhrasePrefix(spark: SparkSession, dir: String): DataFrame =
    positionalIndexFor(spark, dir).phrasePrefix(PhrasePrefixHead, PhrasePrefixSuffix)

  /** Oracle: direct position arithmetic — count positions x where the
    * head tokens sit at x.. and the NEXT token has the prefix (the
    * disjoint-expansion sum the engine computes, stated directly). */
  def phrasePrefixSql(head: String = PhrasePrefixHead,
      prefix: String = PhrasePrefixSuffix): String = {
    val headTs = Tokenizer.tokenize(head)
    val m = headTs.length
    val conds = headTs.zipWithIndex.map { case (t, j) =>
      s"toks[x + $j] = '$t'"
    } :+ s"toks[x + $m] LIKE '$prefix%'"
    s"""WITH d AS (SELECT doc_id, ${Tokenizer.duckdbTokensSql("text")} AS toks FROM documents),
       |hits AS (SELECT doc_id,
       |  unnest(list_filter(range(1, len(toks) + 1 - $m), x -> ${conds.mkString(" AND ")})) AS p
       |  FROM d)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS phrase_tf
       |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Multi-generation hit counting: per-shard partials summed — exact
    * because generations hold disjoint doc spaces. Same oracle as the
    * single-index entry.
    */
  def engCountMultiGen(spark: SparkSession, dir: String): DataFrame =
    mgenSearcher(spark, dir).countMany(CountQueries)

  /** Rescore stage-1 depth and the no-span sort sentinel (larger than
    * any real span under the 2²⁰ position-encoding bound). */
  final val RescoreN = 50
  final val RescoreNoSpan = 1048576L

  /** Two-stage RESCORE retrieval (the search-engine `rescore` API): a
    * cheap BM25 top-N from postings, re-ranked by a positional proximity
    * pass over ONLY those candidates' spans — final order
    * (min_span asc, bm25 rank asc), ALL-INTEGER fusion (the Hybrid RRF
    * discipline: ranks come from each stage's deterministic total
    * order, never a float combination).
    *
    * Scale shape: stage 1 is the ordinary WAND search (k = N bounded);
    * stage 2 is one positions sweep for the query's terms; the fusion
    * joins N rows against the span frame and windows over N rows only.
    *
    * Returns DataFrame(rank: Int, doc_id: Long, min_span: Long — 0 when
    * the candidate has no all-terms window, rank1: Int) ordered by rank,
    * top-k.
    */
  def engRescore(spark: SparkSession, dir: String): DataFrame = {
    val s = positionalIndexFor(spark, dir)
    val query = RefQuery.mkString(" ")
    val w1 = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), asc("doc_id"))
    val top = s.search(query, RescoreN)
      .select(col("doc_id"), row_number().over(w1).as("rank1"))
    val spans = s.proximityMany(Seq((0, query, (RescoreNoSpan - 1L).toInt)))
      .select(col("doc_id"), col("min_span"))
    val fused = top.join(spans, Seq("doc_id"), "left")
      .withColumn("skey", coalesce(col("min_span"), lit(RescoreNoSpan)))
    val w2 = org.apache.spark.sql.expressions.Window
      .orderBy(asc("skey"), asc("rank1"))
    fused
      .select(row_number().over(w2).as("rank"), col("doc_id"),
        coalesce(col("min_span"), lit(0L)).as("min_span"), col("rank1"))
      .where(col("rank") <= K)
      .orderBy(col("rank"))
  }

  /** Oracle for [[engRescore]]: stage 1 = the deterministic
    * [[foldScoreSql]] BM25 order (bit-identical raw scores ⇒ identical
    * rank1), stage 2 = [[engProximitySql]]'s span·2²⁰+start min, fused
    * by the same integer sort. */
  def rescoreSql(terms: Seq[String] = RefQuery, n: Int = RescoreN,
      k: Int = K): String = {
    val enc = 1048576L
    val sorted = terms.flatMap(Tokenizer.tokenize).distinct.sorted
    val termList = sorted.map(t => s"'$t'").mkString(", ")
    // disjunctive stage 1 — the COALESCE fold (a doc missing a term
    // adds an exact 0.0, never a NULL score)
    val fold = foldScoreSqlAny(sorted)
    val lists = sorted.zipWithIndex.map { case (t, j) =>
      s"""(SELECT doc_id, unnest(list_filter(range(1, len(toks) + 1), x -> toks[x] = '$t')) - 1 AS p$j
         |   FROM dd) q$j""".stripMargin
    }
    val joins = lists.head +: lists.tail.map(l => s"JOIN $l USING (doc_id)")
    val psList = sorted.indices.map(j => s"p$j").mkString(", ")
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
       |              CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
       |dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($termList) GROUP BY 1),
       |scores AS (
       |  SELECT tf.doc_id, $fold AS score_raw
       |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       |  WHERE tf.term IN ($termList)
       |  GROUP BY tf.doc_id),
       |top AS (SELECT doc_id, rank1 FROM (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score_raw DESC, doc_id) AS INT) AS rank1
       |  FROM scores) t WHERE rank1 <= $n),
       |dd AS (SELECT doc_id, ${Tokenizer.duckdbTokensSql("text")} AS toks FROM documents),
       |spans AS (
       |  SELECT doc_id, CAST(min(e) // $enc AS BIGINT) AS min_span FROM (
       |    SELECT doc_id, (greatest($psList) - least($psList) + 1) * $enc + least($psList) AS e
       |    FROM ${joins.mkString("\n    ")}
       |  ) se GROUP BY doc_id),
       |fused AS (
       |  SELECT top.doc_id, top.rank1, spans.min_span,
       |    COALESCE(spans.min_span, $RescoreNoSpan) AS skey
       |  FROM top LEFT JOIN spans USING (doc_id))
       |SELECT CAST(row_number() OVER (ORDER BY skey, rank1) AS INT) AS rank,
       |  doc_id, COALESCE(min_span, 0) AS min_span, rank1
       |FROM fused
       |ORDER BY rank LIMIT $k""".stripMargin
  }

  /** HyperLogLog register count (2⁸ — the precision a cardinality
    * aggregation defaults to at this corpus scale) and the matching
    * bias constant α·m², both driver-computed once and embedded as the
    * SAME literal in both engines (no cross-engine constant
    * arithmetic).
    */
  final val HllRegisters = 256
  final val HllAlphaM2: Double =
    0.7213 / (1.0 + 1.079 / HllRegisters.toDouble) *
      (HllRegisters.toDouble * HllRegisters.toDouble)

  /** Distinct-term CARDINALITY SKETCH (the `cardinality` aggregation /
    * the sketch a 100 TB vocabulary census runs instead of a global
    * count-distinct): a deterministic HyperLogLog over md5-derived
    * 60-bit hashes — register = h mod 256, rank = leading-zero count of
    * the next 32 bits + 1 — next to the exact count for the accuracy
    * readout. Everything cross-engine-exact BY CONSTRUCTION:
    *   - the hash is the md5-hex rule (portable-integer discipline);
    *   - registers/ranks are integers;
    *   - Z = Σ 2^−M_j over the 256 registers is a sum of exact powers
    *     of two spanning ≤ 42 binary orders (2⁸ … 2⁻³³), so EVERY
    *     partial sum fits a 53-bit mantissa — the addition order cannot
    *     matter, a bare `sum()` is exact in both engines;
    *   - the estimate is one division by the shared α·m² literal,
    *     rounded at 4 dp.
    *
    * Scale shape: one tokenize scan → 256-row partial-aggregated max —
    * the whole reduction state is 256 integers regardless of corpus
    * size (the point of the sketch); the exact count column is the
    * one global count-distinct it replaces, kept here as the oracle's
    * accuracy witness.
    *
    * Returns one row (m_registers: Int, n_zero: Long, est_distinct:
    * Double, exact_distinct: Long).
    */
  def ftHllCard(spark: SparkSession, dir: String): DataFrame = {
    val m = HllRegisters
    val tok = docs(spark, dir)
      .select(explode(Tokenizer.tokensCol(col("text"))).as("term"))
    val h = conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long")
    val hashed = tok.select(
      (h % m).cast("int").as("reg"),
      (shiftright(h, 8) % 4294967296L).as("w"))
    // rank = index of the leading 1-bit of the 32-bit w (1-based), 33 if w = 0
    val rank = (32 to 1 by -1).foldLeft(lit(33)) { (acc, r) =>
      when(col("w") >= lit(1L << (32 - r)), lit(r)).otherwise(acc)
    }
    val regs = hashed.select(col("reg"), rank.as("rnk"))
      .groupBy(col("reg")).agg(max(col("rnk")).as("mr"))
    val full = spark.range(m.toLong).select(col("id").cast("int").as("reg"))
      .join(regs, Seq("reg"), "left")
      .na.fill(0, Seq("mr"))
    val sketch = full.agg(
      sum(pow(lit(2.0), -col("mr"))).as("z"),
      sum(when(col("mr") === 0, 1L).otherwise(0L)).as("n_zero"))
    val exact = tok.agg(countDistinct(col("term")).as("exact_distinct"))
    // linear counting below 2.5·m with empty registers (the standard HLL
    // small-range correction): m·ln(m/V). The branch condition compares
    // deterministic doubles; the ln rides the same
    // identical-input + round(4) discipline as the BM25 scores.
    val raw = lit(HllAlphaM2) / col("z")
    val mD = lit(m.toDouble)
    val est = when(col("n_zero") > 0L && raw <= lit(2.5 * m),
      mD * log(mD / col("n_zero").cast("double"))).otherwise(raw)
    sketch.crossJoin(exact).select(
      lit(m).as("m_registers"),
      col("n_zero"),
      round(est, 4).as("est_distinct"),
      col("exact_distinct"))
  }

  /** Oracle for [[ftHllCard]]: the identical register/rank integer
    * pipeline over the same md5 hashes, the same provably-exact Z sum,
    * the same embedded α·m² literal. */
  def ftHllCardSql(): String = {
    val m = HllRegisters
    val rankCase = (1 to 32)
      .map(r => s"WHEN w >= ${1L << (32 - r)} THEN $r")
      .mkString("CASE ", " ", " ELSE 33 END")
    s"""WITH tok AS (SELECT unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |h AS (SELECT ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM tok),
       |b AS (SELECT CAST(h % $m AS INT) AS reg, $rankCase AS rnk
       |      FROM (SELECT h, (h // 256) % 4294967296 AS w FROM h)),
       |regs AS (SELECT reg, max(rnk) AS mr FROM b GROUP BY reg),
       |fullr AS (SELECT CAST(r.range AS INT) AS reg, COALESCE(regs.mr, 0) AS mr
       |          FROM range($m) r LEFT JOIN regs ON CAST(r.range AS INT) = regs.reg),
       |agg AS (SELECT sum(power(2.0, -mr)) AS z,
       |               CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
       |        FROM fullr),
       |est AS (SELECT n_zero, (CAST('$HllAlphaM2' AS DOUBLE)) / z AS raw FROM agg)
       |SELECT $m AS m_registers, n_zero,
       |  round(CASE WHEN n_zero > 0 AND raw <= ${2.5 * m}
       |             THEN CAST('${m.toDouble}' AS DOUBLE) * ln(CAST('${m.toDouble}' AS DOUBLE) / CAST(n_zero AS DOUBLE))
       |             ELSE raw END, 4) AS est_distinct,
       |  CAST((SELECT count(DISTINCT term) FROM tok) AS BIGINT) AS exact_distinct
       |FROM est""".stripMargin
  }

  // ------------------------------------------------------------------
  // Round-5 third wave: field-collapsed search, snapshot time travel
  // ------------------------------------------------------------------

  /** FIELD-COLLAPSED search (the Elasticsearch `collapse` shape): the
    * single best hit per `lang` group for the fixed disjunctive query,
    * groups ranked by their best hit's score. A k-bounded retrieval
    * can't feed this — a small group's best hit may sit arbitrarily deep
    * globally — so the input is [[graft.index.Searcher.scoreAllMatched]]
    * (every matched doc scored, per-bucket state bounded by bucket
    * width), joined to the corpus `lang` column (columnar-pruned: the
    * scan reads doc_id + lang only), then collapsed by ONE
    * partial-aggregable argmax per group: `min(struct(-score, doc_id))`
    * — `-x` is exact, so the lexicographic struct min IS the
    * (score desc, doc_id asc) rule, and the shuffle carries one struct
    * per (partition, group) instead of every hit. The final rank window
    * orders only the ≤ |groups| collapsed rows.
    *
    * Determinism: scores are the engine's sorted-term left fold
    * (bit-identical to the oracle's chained-MAX form), the argmax and
    * the group ranking compare raw doubles identically in both engines,
    * and the output rounds at 4 dp like every BM25 entry.
    */
  def engCollapse(spark: SparkSession, dir: String): DataFrame = {
    val scored = indexFor(spark, dir).scoreAllMatched(RefQuery.mkString(" "))
    val langs = docs(spark, dir).select(col("doc_id"), col("lang"))
    val best = scored.join(langs, "doc_id")
      .select(col("lang"),
        struct((-col("score")).as("ns"), col("doc_id").as("doc_id")).as("sd"))
      .groupBy(col("lang"))
      .agg(min(col("sd")).as("b"), count(lit(1)).as("n_hits"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("b.ns"), col("lang"))
    best.select(
      row_number().over(w).as("rank"),
      col("lang"), col("b.doc_id").as("doc_id"),
      round(-col("b.ns"), 4).as("score"), col("n_hits"))
      .orderBy(col("rank"))
  }

  /** Oracle for [[engCollapse]]: the full deterministic-fold score set
    * (no LIMIT), per-lang best via a (score_raw desc, doc_id) window,
    * group rank over the collapsed rows.
    */
  def collapseSql(queryTerms: Seq[String] = RefQuery): String = {
    val terms = queryTerms.distinct.sorted
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
       |              CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
       |dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($termList) GROUP BY 1),
       |scores AS (
       |  SELECT tf.doc_id, ${foldScoreSqlAny(terms)} AS score_raw
       |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       |  WHERE tf.term IN ($termList)
       |  GROUP BY tf.doc_id),
       |g AS (
       |  SELECT d.lang, s.doc_id, s.score_raw,
       |    row_number() OVER (PARTITION BY d.lang ORDER BY s.score_raw DESC, s.doc_id) AS rn,
       |    count(*) OVER (PARTITION BY d.lang) AS n_hits
       |  FROM scores s JOIN documents d USING (doc_id))
       |SELECT CAST(row_number() OVER (ORDER BY score_raw DESC, lang) AS INT) AS rank,
       |  lang, doc_id, round(score_raw, 4) AS score, CAST(n_hits AS BIGINT) AS n_hits
       |FROM g WHERE rn = 1
       |ORDER BY rank""".stripMargin
  }

  final val CollapseTopN = 3

  /** GROUPED TOP-N search ([[engCollapse]]'s inner-hits form): the best
    * [[CollapseTopN]] hits per `lang` group — the Elasticsearch
    * `collapse.inner_hits` shape. Same score-all-matched input; the
    * per-group top-N is ONE bounded [[graft.functions.TopKAgg]]
    * aggregate (map-side partials carry ≤ N structs per group per
    * partition — no window over the full hit set), so the plan scales
    * exactly like the batched-kNN path.
    */
  def engCollapseTop(spark: SparkSession, dir: String,
      n: Int = CollapseTopN): DataFrame = {
    val scored = indexFor(spark, dir).scoreAllMatched(RefQuery.mkString(" "))
    val langs = docs(spark, dir).select(col("doc_id"), col("lang"))
    scored.join(langs, "doc_id")
      .groupBy(col("lang"))
      .agg(graft.functions.TopKAgg.greatest(col("score"), col("doc_id"), n).as("hits"))
      .select(col("lang"), posexplode(col("hits")).as(Seq("rnk0", "h")))
      .select(col("lang"), (col("rnk0") + 1).as("rank"),
        col("h.id").as("doc_id"), round(col("h.score"), 4).as("score"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Oracle for [[engCollapseTop]]: the full deterministic-fold score
    * set, a per-lang (score_raw desc, doc_id) window, rn ≤ N. */
  def collapseTopSql(queryTerms: Seq[String] = RefQuery,
      n: Int = CollapseTopN): String = {
    val terms = queryTerms.distinct.sorted
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
       |              CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
       |dfq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ($termList) GROUP BY 1),
       |scores AS (
       |  SELECT tf.doc_id, ${foldScoreSqlAny(terms)} AS score_raw
       |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       |  WHERE tf.term IN ($termList)
       |  GROUP BY tf.doc_id),
       |g AS (
       |  SELECT d.lang, s.doc_id, s.score_raw,
       |    CAST(row_number() OVER (PARTITION BY d.lang
       |      ORDER BY s.score_raw DESC, s.doc_id) AS INT) AS rank
       |  FROM scores s JOIN documents d USING (doc_id))
       |SELECT lang, rank, doc_id, round(score_raw, 4) AS score
       |FROM g WHERE rank <= $n
       |ORDER BY lang, rank""".stripMargin
  }

  /** SNAPSHOT (time-travel) search: generations are immutable snapshot
    * boundaries (the Iceberg snapshot-read shape the north rule's input
    * model implies — each LSM generation is a committed, manifest-listed
    * snapshot). Querying "as of generation A" searches ONLY generation
    * A's index with generation-LOCAL statistics — exactly the ranking a
    * user saw before generation B was ingested, reproducible forever
    * because generations are append-only. Contrast [[engBm25MultiGen]]:
    * the CURRENT view searches every generation under shared global
    * stats.
    */
  def engTimeTravel(spark: SparkSession, dir: String): DataFrame =
    new Searcher(spark, mgenRoots(spark, dir).head)
      .search(RefQuery.mkString(" "), K)
      .select(col("doc_id"), round(col("score"), 4).as("score"))

  /** Oracle for [[engTimeTravel]]: the standard BM25 oracle over the
    * generation-A half of the corpus (even doc ids), statistics included
    * — a snapshot's ranking is self-contained.
    */
  def timeTravelSql(): String =
    bm25TopKSql(docWhere = Some("doc_id % 2 = 0"))
}
