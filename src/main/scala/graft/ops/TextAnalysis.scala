package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyze.Tokenizer

/** Text-analysis operators a large-scale training-data pipeline needs:
  * token counting, quality scoring, language-ID heuristic, and document
  * fingerprinting. All deterministic builtin-function pipelines (codegen,
  * no UDF) with exact DuckDB oracles.
  */
object TextAnalysis {

  // the corpus lands as few (often ONE) single-row-group parquet files,
  // so an un-repartitioned scan runs every per-row tokenize/gram/hash
  // pass in one task until the first exchange — spread it immediately
  // after the read (guide: repartition unsplittable inputs), keyed by
  // doc_id (deterministic hash, no sort-before-repartition), width from
  // the session's shuffle-partition config (scale-adaptive, not a local
  // constant); the shuffled bytes are only the raw text rows
  // `spread = false` opts out for consumers with trivial per-row map
  // work whose first real operation is its own exchange (same rule as
  // Relational.t — the spread would be a second shuffle buying nothing)
  // AND for the per-doc single-aggregate entries (tokcount/quality/
  // langid/fingerprint/pack/blocklist): the A-B-A noop measurement
  // (OPTIMIZATION_r06.md) showed the text exchange costs more than the
  // one-task map it parallelizes at bench scale, and at corpus scale the
  // multi-file scan is already parallel — the spread earns its exchange
  // only on the multiplicative passes (gram/shingle explodes,
  // signatures) where per-row work dominates. The levenshtein/hamming
  // pair entries are multiplicative passes (O(50) distance evaluations
  // per row) that go unspread anyway: they were measured as exceptions
  // to that rule in the same A-B-A run, and on a few-file corpus their
  // distance work runs at scan parallelism
  private def docs(spark: SparkSession, dir: String,
      spread: Boolean = true): DataFrame = {
    val df = spark.read.parquet(s"$dir/documents.parquet")
    if (spread)
      df.repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
    else df
  }

  final val Stopwords = Seq("the", "a", "of", "to", "and", "in")
  private val stopwordsSqlList = Stopwords.map(s => s"'$s'").mkString(", ")

  /** Token statistics per doc: total and unique token counts. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir, spread = false)
      .select(col("doc_id"), explode(Tokenizer.tokensCol(col("text"))).as("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("term")).as("n_unique"))
      .orderBy(col("doc_id"))

  val tokenCountSql: String =
    s"""SELECT doc_id, count(*) AS n_tokens, count(DISTINCT term) AS n_unique
       |FROM (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Quality score: blend of length, lexical diversity, and stopword
    * ratio — computed entirely in integer basis points (exact
    * round-half-up via `(2·10000·p + q) div (2q)`), because decimal
    * `round()` on binary doubles differs between engines at exact .5
    * boundaries, which ratios of small integers hit routinely.
    */
  def quality(spark: SparkSession, dir: String): DataFrame =
    qualityOf(docs(spark, dir, spread = false))

  /** [[quality]] over an arbitrary documents frame — per-doc arithmetic,
    * so restricting the input restricts the output rows and changes no
    * surviving value (the pushdown hook [[curate]] uses).
    */
  private def qualityOf(d: DataFrame): DataFrame = {
    val tok = d
      .select(col("doc_id"), explode(Tokenizer.tokensCol(col("text"))).as("term"))
    tok.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("term")).as("n_unique"),
        sum(when(col("term").isin(Stopwords: _*), 1L).otherwise(0L)).as("n_stop"))
      // basis points, exact integer arithmetic only
      .withColumn("stop_bp", expr("(20000 * n_stop + n_tokens) div (2 * n_tokens)"))
      .withColumn("div_bp", expr("(20000 * n_unique + n_tokens) div (2 * n_tokens)"))
      .withColumn("len_bp", least(expr("(20000 * n_tokens + 200) div 400"), lit(10000L)))
      .withColumn("quality_bp",
        expr("(4 * len_bp + 3 * div_bp + 3 * (10000 - stop_bp) + 5) div 10"))
      .select(col("doc_id"), col("n_tokens"), col("stop_bp"), col("quality_bp"))
      .orderBy(col("doc_id"))
  }

  /** Intra-document repetition: duplicate-bigram fraction in integer
    * basis points — the repetition filter family popularized by the
    * Gopher data-curation rules (duplicate n-gram fraction; public
    * concept), the signal that catches boilerplate/looping text which
    * per-token quality ratios miss. Bigrams come from zipping the
    * MATERIALIZED token array with its own tail (builtin `zip_with` —
    * codegen'd, no UDF, no explode→window shuffle; the token column is
    * named first per the lambda-inlining rule). dup/total rides the
    * exact round-half-up integer-bp form `(20000p + q) div (2q)`. Docs
    * with < 2 tokens have no bigrams and are outside the filter's
    * domain. One narrow projection per doc — embarrassingly parallel at
    * any corpus size.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), Tokenizer.tokensCol(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"),
        zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => concat(a, lit(" "), b)).as("bigrams"))
      .select(col("doc_id"),
        size(col("bigrams")).cast("long").as("n_bigrams"),
        (size(col("bigrams")) - size(array_distinct(col("bigrams"))))
          .cast("long").as("n_dup"))
      .withColumn("rep_bp", expr("(20000 * n_dup + n_bigrams) div (2 * n_bigrams)"))
      .orderBy(col("doc_id"))

  val repetitionSql: String =
    s"""WITH tok AS (SELECT doc_id, ${Tokenizer.duckdbTokensSql("text")} AS toks FROM documents),
       |b AS (SELECT doc_id,
       |        list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
       |      FROM tok WHERE len(toks) >= 2)
       |SELECT doc_id, CAST(len(bigrams) AS BIGINT) AS n_bigrams,
       |  CAST(len(bigrams) - len(list_distinct(bigrams)) AS BIGINT) AS n_dup,
       |  CAST((20000 * (len(bigrams) - len(list_distinct(bigrams))) + len(bigrams))
       |       // (2 * len(bigrams)) AS BIGINT) AS rep_bp
       |FROM b ORDER BY doc_id""".stripMargin

  /** Reusable quality CTE block (prefixable so callers can splice it next
    * to CTEs that already use tok/agg/bp names): ends in
    * `<p>bp(doc_id, n_tokens, stop_bp, div_bp, len_bp)`. The quality_bp
    * formula itself is [[qualityBpSql]] — one expression, embedded
    * identically everywhere so every oracle derives the SAME score.
    */
  def qualityCtesSql(p: String = ""): String =
    s"""${p}tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |${p}agg AS (
       |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT term) AS n_unique,
       |    CAST(sum(CASE WHEN term IN ($stopwordsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
       |  FROM ${p}tok GROUP BY doc_id),
       |${p}bp AS (
       |  SELECT doc_id, n_tokens,
       |    (20000 * n_stop + n_tokens) // (2 * n_tokens) AS stop_bp,
       |    (20000 * n_unique + n_tokens) // (2 * n_tokens) AS div_bp,
       |    least((20000 * n_tokens + 200) // 400, 10000) AS len_bp
       |  FROM ${p}agg)""".stripMargin

  val qualityBpSql: String =
    "(4 * len_bp + 3 * div_bp + 3 * (10000 - stop_bp) + 5) // 10"

  val qualitySql: String =
    s"""WITH ${qualityCtesSql()}
       |SELECT doc_id, n_tokens, stop_bp,
       |  $qualityBpSql AS quality_bp
       |FROM bp ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic (n-gram/stopword evidence): English stopword
    * ratio ≥ 2% → 'en', else 'unknown'. (The synthetic corpus is
    * English-like across its `lang` labels; the heuristic's value here is
    * the deterministic distributed pipeline, not linguistic accuracy.)
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val tok = docs(spark, dir, spread = false)
      .select(col("doc_id"), explode(Tokenizer.tokensCol(col("text"))).as("term"))
    tok.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("term").isin(Stopwords: _*), 1L).otherwise(0L)).as("n_stop"))
      .withColumn("lang_guess",
        when(col("n_stop").cast("double") / col("n_tokens").cast("double") >= 0.02, lit("en"))
          .otherwise(lit("unknown")))
      .select(col("doc_id"), col("lang_guess"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(CASE WHEN term IN ($stopwordsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
       |  FROM tok GROUP BY doc_id)
       |SELECT doc_id,
       |  CASE WHEN n_stop::DOUBLE / n_tokens::DOUBLE >= 0.02 THEN 'en' ELSE 'unknown' END AS lang_guess
       |FROM agg ORDER BY doc_id""".stripMargin

  /** String edit-distance between consecutive docs' source tags — the
    * reference's Levenshtein SQL function analog
    * (/root/reference/sqlite/lib.cpp:209-267, distance_levenshtein_bytes):
    * classic edit distance is builtin in both engines.
    */
  def levenshteinPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir, spread = false)
    val a = d.where(col("doc_id") < 50)
      .select(col("doc_id").as("left_id"), col("source").as("sa"))
    val b = d.select(col("doc_id").as("right_id"), col("source").as("sb"))
    a.join(b, col("right_id") === col("left_id") + 1)
      .select(col("left_id"),
        graft.functions.Distances.levenshteinDistance(col("sa"), col("sb")).as("lev"))
      .orderBy(col("left_id"))
  }

  val levenshteinPairsSql: String =
    """SELECT a.doc_id AS left_id, levenshtein(a.source, b.source) AS lev
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |WHERE a.doc_id < 50 ORDER BY left_id""".stripMargin

  /** Bounded edit distance — the reference's `*_bounded` SQL variants
    * (/root/reference/sqlite/lib.cpp:268-335): distances above the bound
    * report −1 (Spark's 3-arg levenshtein semantics; the oracle clamps
    * the unbounded DuckDB builtin the same way).
    */
  def levenshteinBoundedPairs(spark: SparkSession, dir: String,
      bound: Int = 20): DataFrame = {
    val d = docs(spark, dir, spread = false)
    val a = d.where(col("doc_id") < 50)
      .select(col("doc_id").as("left_id"), col("source").as("sa"))
    val b = d.select(col("doc_id").as("right_id"), col("source").as("sb"))
    a.join(b, col("right_id") === col("left_id") + 1)
      .select(col("left_id"), levenshtein(col("sa"), col("sb"), bound).as("lev_bounded"))
      .orderBy(col("left_id"))
  }

  def levenshteinBoundedPairsSql(bound: Int = 20): String =
    s"""SELECT a.doc_id AS left_id,
       |  CASE WHEN levenshtein(a.source, b.source) <= $bound
       |       THEN levenshtein(a.source, b.source) ELSE -1 END AS lev_bounded
       |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
       |WHERE a.doc_id < 50 ORDER BY left_id""".stripMargin

  /** String Hamming distance over the fixed-length md5-hex content
    * fingerprints of consecutive docs — the reference's
    * `distance_hamming_bytes` SQL function analog
    * (/root/reference/sqlite/lib.cpp:209-267; equal-length strings).
    * Pure builtins: per-char zip_with + filter + size.
    */
  def hammingStrPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir, spread = false).select(col("doc_id"), md5(col("text")).as("fp"))
    val a = d.where(col("doc_id") < 50)
      .select(col("doc_id").as("left_id"), col("fp").as("fa"))
    val b = d.select(col("doc_id").as("right_id"), col("fp").as("fb"))
    a.join(b, col("right_id") === col("left_id") + 1)
      .select(col("left_id"),
        size(filter(
          zip_with(split(col("fa"), ""), split(col("fb"), ""), (x, y) => x =!= y),
          p => p)).as("hamming_str"))
      .orderBy(col("left_id"))
  }

  val hammingStrPairsSql: String =
    """SELECT a.doc_id AS left_id, hamming(md5(a.text), md5(b.text)) AS hamming_str
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |WHERE a.doc_id < 50 ORDER BY left_id""".stripMargin

  /** Levenshtein over UTF-8 BYTES — the reference's
    * `distance_levenshtein_bytes` vs `_unicode` distinction
    * (/root/reference/sqlite/lib.cpp:209-335). The fixture makes byte and
    * code-point sequences genuinely diverge by mapping 'a' → 'ä'
    * (2 UTF-8 bytes) on both engines; Spark scores with the native
    * byte-DP expression ([[graft.functions.ByteDistances]]), DuckDB's
    * builtin levenshtein is already byte-based (levenshtein('ä','b')=2),
    * so the oracle needs no adapter — and differs from the unicode entry
    * ([[levenshteinPairs]]) wherever the 'a' counts differ.
    */
  def levenshteinBytesPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir, spread = false)
      .select(col("doc_id"), translate(col("source"), "a", "ä").as("s"))
    val a = d.where(col("doc_id") < 50)
      .select(col("doc_id").as("left_id"), col("s").as("sa"))
    val b = d.select(col("doc_id").as("right_id"), col("s").as("sb"))
    a.join(b, col("right_id") === col("left_id") + 1)
      .select(col("left_id"),
        graft.functions.ByteDistances.levenshteinBytes(col("sa"), col("sb")).as("lev_bytes"))
      .orderBy(col("left_id"))
  }

  val levenshteinBytesPairsSql: String =
    """SELECT a.doc_id AS left_id,
      |  levenshtein(translate(a.source, 'a', 'ä'), translate(b.source, 'a', 'ä')) AS lev_bytes
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |WHERE a.doc_id < 50 ORDER BY left_id""".stripMargin

  /** Hamming over UTF-8 BYTES (`distance_hamming_bytes`,
    * /root/reference/sqlite/lib.cpp:209-335). Equal byte length comes
    * from mapping every md5 hex char to a 2-byte char; the mixed
    * Cyrillic/Greek alphabet makes some char substitutions cost 1 byte
    * and others 2 — the value a code-point hamming cannot produce.
    */
  def hammingBytesPairs(spark: SparkSession, dir: String): DataFrame = {
    val wide = translate(md5(col("text")), "0123456789abcdef", "абвгдежзαβγδεζηθ")
    val d = docs(spark, dir, spread = false).select(col("doc_id"), wide.as("fp"))
    val a = d.where(col("doc_id") < 50)
      .select(col("doc_id").as("left_id"), col("fp").as("fa"))
    val b = d.select(col("doc_id").as("right_id"), col("fp").as("fb"))
    a.join(b, col("right_id") === col("left_id") + 1)
      .select(col("left_id"),
        graft.functions.ByteDistances.hammingBytes(col("fa"), col("fb")).as("hamming_bytes"))
      .orderBy(col("left_id"))
  }

  val hammingBytesPairsSql: String =
    """SELECT a.doc_id AS left_id,
      |  hamming(translate(md5(a.text), '0123456789abcdef', 'абвгдежзαβγδεζηθ'),
      |          translate(md5(b.text), '0123456789abcdef', 'абвгдежзαβγδεζηθ')) AS hamming_bytes
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |WHERE a.doc_id < 50 ORDER BY left_id""".stripMargin

  /** Ranked string-metric search: top-k nearest strings to a query under
    * Levenshtein edit distance (asc, doc_id asc) — the reference indexes
    * strings under Levenshtein and answers top-k nearest-string queries
    * (/root/reference/cpp/test.cpp:982-1060; SQL surface
    * /root/reference/sqlite/lib.cpp:209-267). The query string is doc 0's
    * `source` tag, resolved by the same broadcast join on both engines.
    * Catalyst plans orderBy+limit as TakeOrderedAndProject (per-partition
    * partial top-k + one bounded merge — the same distributed shape as
    * every other kNN here), and at 100 TB the O(len²) per-row distance
    * stays embarrassingly parallel over the scan.
    */
  def stringKnn(spark: SparkSession, dir: String, k: Int = 10,
      queryDocId: Long = 0L): DataFrame = {
    val d = docs(spark, dir, spread = false)
    val q = broadcast(d.where(col("doc_id") === queryDocId)
      .select(col("source").as("qs")))
    d.crossJoin(q)
      .select(col("doc_id"),
        graft.functions.Distances.levenshteinDistance(col("source"), col("qs")).as("lev"))
      .orderBy(asc("lev"), asc("doc_id"))
      .limit(k)
  }

  def stringKnnSql(k: Int = 10, queryDocId: Long = 0L): String =
    s"""WITH q AS (SELECT source AS qs FROM documents WHERE doc_id = $queryDocId)
       |SELECT doc_id, levenshtein(source, qs) AS lev
       |FROM documents, q
       |ORDER BY lev, doc_id LIMIT $k""".stripMargin

  /** Document fingerprint: md5 over the normalized token stream — the
    * canonical-content identity used for dedup/lineage (whitespace/punct
    * insensitive, unlike the raw-content sha256 integrity column).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir, spread = false)
      .select(col("doc_id"),
        md5(array_join(Tokenizer.tokensCol(col("text")), " ")).as("fingerprint"))
      .orderBy(col("doc_id"))

  val fingerprintSql: String =
    s"""SELECT doc_id,
       |  md5(array_to_string(${Tokenizer.duckdbTokensSql("text")}, ' ')) AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin

  /** End-to-end curation — the realistic COMPOSITION of the pipeline
    * operators into one declarative plan: keep documents that pass the
    * language filter ∧ are the exact-dedup representative (min doc_id
    * per content hash within the filtered set) ∧ score at least
    * `minQualityBp`. The plan is three shuffles (quality agg, dedup
    * agg, rep join) with the lang filter pushed to the scan; at 100 TB
    * each stage is the already-proven scale shape of its standalone op.
    */
  def curate(spark: SparkSession, dir: String,
      minQualityBp: Long = 5400, lang: String = "en"): DataFrame = {
    val filtered = docs(spark, dir).where(col("lang") === lang)
    val rep = filtered
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
    // quality is per-doc and the inner join keeps only rep ⊆ filtered
    // docs: scoring the lang-filtered scan is value-identical while the
    // lang predicate pushes into the tokenize pass (PushedFilters at the
    // parquet scan instead of a full-corpus quality aggregation)
    val q = qualityOf(filtered).select(col("doc_id"), col("quality_bp"))
    rep.join(q, "doc_id")
      .where(col("quality_bp") >= minQualityBp)
      .select(col("doc_id"), col("text_md5"), col("quality_bp"))
      .orderBy(col("doc_id"))
  }

  def curateSql(minQualityBp: Long = 5400, lang: String = "en"): String =
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT term) AS n_unique,
       |    CAST(sum(CASE WHEN term IN ($stopwordsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
       |  FROM tok GROUP BY doc_id),
       |bp AS (
       |  SELECT doc_id,
       |    (20000 * n_stop + n_tokens) // (2 * n_tokens) AS stop_bp,
       |    (20000 * n_unique + n_tokens) // (2 * n_tokens) AS div_bp,
       |    least((20000 * n_tokens + 200) // 400, 10000) AS len_bp
       |  FROM agg),
       |q AS (SELECT doc_id, (4 * len_bp + 3 * div_bp + 3 * (10000 - stop_bp) + 5) // 10 AS quality_bp FROM bp),
       |rep AS (
       |  SELECT md5(text) AS text_md5, min(doc_id) AS doc_id
       |  FROM documents WHERE lang = '$lang' GROUP BY 1)
       |SELECT r.doc_id, r.text_md5, q.quality_bp
       |FROM rep r JOIN q USING (doc_id)
       |WHERE q.quality_bp >= $minQualityBp
       |ORDER BY r.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // training-set construction: sampling + token-budget packing
  // ------------------------------------------------------------------

  /** Deterministic stratified sampling: keep a per-language fraction of
    * the corpus chosen by a portable content hash — the quota/mixture
    * sampling step of a training-data pipeline, reproducible with no RNG
    * state and no shuffle (a pure filter evaluated at the scan; survives
    * any re-partitioning or re-run bit-for-bit). Rates in basis points:
    * `en` keeps 50%, every other stratum 20%.
    */
  def sampleStratified(spark: SparkSession, dir: String,
      enBp: Long = 5000L, otherBp: Long = 2000L): DataFrame =
    docs(spark, dir, spread = false)
      .select(col("doc_id"), col("lang"), (Dedup.hash32(col("text")) % 10000L).as("h"))
      .where(col("h") < when(col("lang") === "en", enBp).otherwise(otherBp))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  def sampleStratifiedSql(enBp: Long = 5000L, otherBp: Long = 2000L): String =
    s"""SELECT doc_id, lang FROM documents
       |WHERE ${Dedup.hash32Sql("text")} % 10000
       |      < CASE WHEN lang = 'en' THEN $enBp ELSE $otherBp END
       |ORDER BY doc_id""".stripMargin

  /** Token-budget packing: per language stratum, keep the
    * highest-quality documents until the stratum's token budget is
    * exhausted — the mixing step that turns scored documents into a
    * training set of a fixed token size. All integer arithmetic → exact
    * cross-engine.
    *
    * Scale shape (two-level — a stratum is NEVER one window partition):
    * quality_bp is an integer in [0, 10000], so level 1 collapses each
    * stratum to ≤ 10001 (lang, quality_bp) → sum(n_tokens) run rows and
    * takes the cumulative threshold over THOSE (a bounded window). Runs
    * that start at or past the budget are pruned before any per-doc
    * work, so level 2's per-doc running sums — windows partitioned by
    * (lang, quality_bp), seeded with the run's prefix offset — see only
    * the kept prefix: ≈ budget-many tokens plus the single boundary run,
    * independent of corpus size. Equivalent by construction to one
    * stratum-wide window ordered (quality desc, doc_id asc), because
    * within a run that order IS doc_id asc ([[graft.TextAnalysisSpec]]
    * pins two-level ≡ windowed).
    */
  def tokenBudget(spark: SparkSession, dir: String,
      budgetTokens: Long = 3000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one row per doc, EAGERLY materialized: the run-table branch and the
    // final per-doc join both consume it, and each otherwise re-ran the
    // whole corpus tokenize + quality pass
    val q = quality(spark, dir)
      .join(docs(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("quality_bp"), col("n_tokens"))
      .localCheckpoint(true)
    // level 1: bounded run table + cumulative threshold over ≤ 10001
    // rows per stratum; runs wholly past the budget never leave here
    val wRun = Window.partitionBy(col("lang"))
      .orderBy(desc("quality_bp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bounds = q.groupBy(col("lang"), col("quality_bp"))
      .agg(sum(col("n_tokens")).as("run_tokens"))
      .withColumn("run_cum", sum(col("run_tokens")).over(wRun))
      .where(col("run_cum") - col("run_tokens") < budgetTokens)
      .select(col("lang"), col("quality_bp"),
        (col("run_cum") - col("run_tokens")).as("run_prev"))
    // level 2: per-doc cum only within each kept run (window partition =
    // (lang, quality_bp); input bounded by the budget, see scaladoc)
    val wDoc = Window.partitionBy(col("lang"), col("quality_bp"))
      .orderBy(asc("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q.join(bounds, Seq("lang", "quality_bp"))
      .withColumn("cum_tokens", col("run_prev") + sum(col("n_tokens")).over(wDoc))
      .where(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col("lang"), col("quality_bp"), col("cum_tokens"))
      .orderBy(col("lang"), col("cum_tokens"))
  }

  def tokenBudgetSql(budgetTokens: Long = 3000L): String =
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT term) AS n_unique,
       |    CAST(sum(CASE WHEN term IN ($stopwordsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
       |  FROM tok GROUP BY doc_id),
       |bp AS (
       |  SELECT doc_id, n_tokens,
       |    (20000 * n_stop + n_tokens) // (2 * n_tokens) AS stop_bp,
       |    (20000 * n_unique + n_tokens) // (2 * n_tokens) AS div_bp,
       |    least((20000 * n_tokens + 200) // 400, 10000) AS len_bp
       |  FROM agg),
       |q AS (SELECT doc_id, n_tokens,
       |        (4 * len_bp + 3 * div_bp + 3 * (10000 - stop_bp) + 5) // 10 AS quality_bp
       |      FROM bp),
       |c AS (
       |  SELECT q.doc_id, d.lang, q.quality_bp,
       |    sum(q.n_tokens) OVER (PARTITION BY d.lang
       |      ORDER BY q.quality_bp DESC, q.doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
       |  FROM q JOIN documents d USING (doc_id))
       |SELECT doc_id, lang, quality_bp, CAST(cum_tokens AS BIGINT) AS cum_tokens
       |FROM c WHERE cum_tokens <= $budgetTokens
       |ORDER BY lang, cum_tokens""".stripMargin

  // ------------------------------------------------------------------
  // benchmark-contamination phrase scan
  // ------------------------------------------------------------------

  /** Fixed probe phrases for the driver entry: two present at every
    * scale, one absent at the smallest, one whose terms never enter the
    * dictionary (the candidate-pruning canary).
    */
  final val ContaminationProbes: Seq[String] = Seq(
    "key agg row",
    "merge batch part",
    "table window table",
    "quantum flux capacitor")

  /** Benchmark-contamination scan: which documents contain which probe
    * PHRASES as a verbatim token sequence — the decontamination pass a
    * training pipeline runs before any eval (find eval/benchmark strings
    * inside the corpus).
    *
    * Scale shape: candidates come from the INDEX, never a corpus scan —
    * one pruned segments read ([[graft.index.Searcher.postingDocIds]]:
    * `term IN (...)` pushdown + dictionary bucket filter) decodes only
    * the probe terms' posting lists; a doc is a candidate for a probe iff
    * it holds EVERY distinct term of that probe (count-distinct
    * intersection, map-side partial agg). Only candidates are joined back
    * to the corpus (small side broadcast) and verified with an exact
    * token-sequence substring match. A probe with an unindexed term dies
    * at query planning — zero postings touched.
    *
    * Default path (round 5): verification moved INTO the index — the
    * positions sidecar answers the whole scan via
    * [[graft.index.Searcher.phraseMany]] (dictionary-planned bucket
    * intersection, pruned positional reads, positional-adjacency verify),
    * so `documents.text` is never read at all. `usePositions = false`
    * keeps the candidates + text-substring verify for indexes built
    * without the sidecar — both paths share the substring SQL oracle.
    */
  def contamination(spark: SparkSession, dir: String,
      probes: Seq[String] = ContaminationProbes,
      usePositions: Boolean = true): DataFrame = {
    if (usePositions) {
      val s = Fulltext.positionalIndexFor(spark, dir)
      return s.phraseMany(probes.zipWithIndex.map(_.swap))
        .select(col("phrase_id").as("probe_id"), col("doc_id"))
        .orderBy(col("probe_id"), col("doc_id"))
    }
    contaminationTextVerify(spark, dir, probes)
  }

  /** Fallback for indexes without the positions sidecar: index-pruned
    * candidates, text-substring verification (the pre-round-5 path).
    */
  def contaminationTextVerify(spark: SparkSession, dir: String,
      probes: Seq[String] = ContaminationProbes): DataFrame = {
    import spark.implicits._
    val s = Fulltext.indexFor(spark, dir)
    val probeTerms: Seq[(Int, String, Seq[String])] = probes.zipWithIndex.map {
      case (p, i) => (i, p, Tokenizer.tokenize(p).distinct.toSeq)
    }
    val allTerms = probeTerms.flatMap(_._3).distinct.sorted
    val termDocs = s.postingDocIds(allTerms)
    val probeTermRows = broadcast(
      probeTerms.flatMap { case (i, _, ts) => ts.map(t => (i, t, ts.size)) }
        .toDF("probe_id", "term", "n_terms"))
    val candidates = termDocs.join(probeTermRows, "term")
      .groupBy(col("probe_id"), col("doc_id"), col("n_terms"))
      .agg(countDistinct(col("term")).as("nt"))
      .where(col("nt") === col("n_terms"))
      .select(col("probe_id"), col("doc_id"))
    val probeText = broadcast(
      probeTerms.map { case (i, p, _) => (i, p) }.toDF("probe_id", "probe"))
    candidates
      .join(docs(spark, dir).select(col("doc_id"), col("text")), "doc_id")
      .join(probeText, "probe_id")
      .where(concat(lit(" "),
        array_join(Tokenizer.tokensCol(col("text")), " "), lit(" "))
        .contains(concat(lit(" "), col("probe"), lit(" "))))
      .select(col("probe_id"), col("doc_id"))
      .orderBy(col("probe_id"), col("doc_id"))
  }

  def contaminationSql(probes: Seq[String] = ContaminationProbes): String = {
    val values = probes.zipWithIndex
      .map { case (p, i) => s"($i, '$p')" }.mkString(", ")
    s"""WITH probes(probe_id, probe) AS (VALUES $values),
       |norm AS (SELECT doc_id,
       |  array_to_string(${Tokenizer.duckdbTokensSql("text")}, ' ') AS ntext
       |  FROM documents)
       |SELECT p.probe_id, n.doc_id
       |FROM probes p JOIN norm n
       |  ON contains(' ' || n.ntext || ' ', ' ' || p.probe || ' ')
       |ORDER BY p.probe_id, n.doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // corpus-level curation: blocklist, boilerplate, decontamination,
  // rarity — the remaining standard web-pipeline filters
  // ------------------------------------------------------------------

  /** Blocklist terms: two present in the corpus vocabulary plus one
    * dictionary-absent canary (must never match — same discipline as the
    * contamination probes).
    */
  final val Blocklist = Seq("slow", "dup", "fail", "xyzzyblocked")
  private val blocklistSqlList = Blocklist.map(s => s"'$s'").mkString(", ")

  /** C4-style blocklist filter: per-doc count of blocklisted tokens and
    * a keep decision at a blocked-token-share threshold (C4 dropped any
    * page containing a listed word; graft keeps the count so the
    * threshold is a parameter, default 5% in basis points — public
    * concept, the "bad words" filter of the C4/RefinedWeb pipelines).
    * One narrow projection per doc, no shuffle before the per-doc agg —
    * embarrassingly parallel; the ratio rides the exact round-half-up
    * integer-bp form.
    */
  /** The blocklist gate as a frame-to-frame transform over any
    * (doc_id, text) input — stateless per-row projections only, so the
    * SAME definition runs batch (below) and inside a Structured
    * Streaming micro-batch ([[graft.streaming.StreamingCuration]];
    * StreamingCurationSpec pins streamed ≡ batch).
    */
  def blocklistOn(in: DataFrame, thresholdBp: Long = 500L): DataFrame =
    in.select(col("doc_id"), Tokenizer.tokensCol(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(filter(col("toks"), t => t.isin(Blocklist: _*)))
          .cast("long").as("n_blocked"))
      .withColumn("blocked_bp", expr("(20000 * n_blocked + n_tokens) div (2 * n_tokens)"))
      .withColumn("keep", when(col("blocked_bp") < thresholdBp, 1L).otherwise(0L))

  def blocklist(spark: SparkSession, dir: String,
      thresholdBp: Long = 500L): DataFrame =
    blocklistOn(docs(spark, dir, spread = false), thresholdBp).orderBy(col("doc_id"))

  def blocklistSql(thresholdBp: Long = 500L): String =
    s"""WITH b AS (SELECT doc_id, ${Tokenizer.duckdbTokensSql("text")} AS toks FROM documents)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(toks, t -> t IN ($blocklistSqlList))) AS BIGINT) AS n_blocked,
       |  (20000 * len(list_filter(toks, t -> t IN ($blocklistSqlList))) + len(toks))
       |    // (2 * len(toks)) AS blocked_bp,
       |  CAST(CASE WHEN (20000 * len(list_filter(toks, t -> t IN ($blocklistSqlList))) + len(toks))
       |    // (2 * len(toks)) < $thresholdBp THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM b ORDER BY doc_id""".stripMargin

  /** Word 5-grams per doc as (doc_id, gram) rows — shared by the
    * boilerplate and decontamination scans. The token array is
    * materialized as a named column BEFORE the transform lambda (the
    * Catalyst re-evaluation rule); grams come from slice-over-sequence,
    * all builtins.
    */
  private final val GramN = 5
  private def gramRows(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), Tokenizer.tokensCol(col("text")).as("toks"))
      .where(size(col("toks")) >= GramN)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - (GramN - 1)),
          i => array_join(slice(col("toks"), i, lit(GramN)), " "))).as("gram"))

  /** DuckDB twin of [[gramRows]], as a CTE block ending in
    * `g(doc_id, gram)`. List slicing is 1-based inclusive in DuckDB;
    * `range` is end-exclusive, so starts run 1..len-(n-1).
    */
  private def gramRowsSqlCtes: String =
    s"""tokt AS (SELECT doc_id, ${Tokenizer.duckdbTokensSql("text")} AS toks FROM documents),
       |g AS (SELECT doc_id, array_to_string(toks[i:i+${GramN - 1}], ' ') AS gram
       |      FROM tokt, unnest(range(1, len(toks) - ${GramN - 2})) AS t(i)
       |      WHERE len(toks) >= $GramN)""".stripMargin

  /** Cross-document boilerplate: the fraction of a doc's 5-gram
    * positions whose gram occurs in ≥ `minDocs` distinct documents — the
    * span-level duplicate-text signal (the C4 three-sentence dedup /
    * RefinedWeb boilerplate family, public concepts) that catches shared
    * headers, licence banners and templates which whole-doc dedup misses.
    *
    * Scale shape: one (doc, gram) partial-count agg, a gram-keyed
    * doc-frequency agg over the DISTINCT (doc, gram) pairs (map-side
    * combine on both), then one join of per-doc gram counts against the
    * boilerplate gram set — every stage keyed on the gram hash, no
    * driver state, no window. Docs shorter than 5 tokens have no grams
    * and are outside the filter's domain.
    */
  def boilerplate(spark: SparkSession, dir: String,
      minDocs: Long = 3L): DataFrame = {
    // the (doc, gram) partial-agg is EAGERLY materialized once
    // (localCheckpoint): three consumers below — the gram-df branch, the
    // join-back branch, and the per-doc totals — otherwise each re-ran
    // the corpus tokenize + 5-gram explode; n_grams = Σ c reproduces
    // len(toks) − 4 exactly (every gram position is counted once), so
    // the former third tokenize pass is gone too
    val perDocGram = gramRows(spark, dir)
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val boilerGrams = perDocGram
      .groupBy(col("gram")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("gram"))
    val boilerPerDoc = perDocGram.join(boilerGrams, "gram")
      .groupBy(col("doc_id")).agg(sum(col("c")).as("n_boiler"))
    perDocGram.groupBy(col("doc_id")).agg(sum(col("c")).as("n_grams"))
      .join(boilerPerDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_boiler"))
      .withColumn("boiler_bp", expr("(20000 * n_boiler + n_grams) div (2 * n_grams)"))
      .orderBy(col("doc_id"))
  }

  def boilerplateSql(minDocs: Long = 3L): String =
    s"""WITH $gramRowsSqlCtes,
       |pg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
       |bg AS (SELECT gram FROM (SELECT gram, count(*) AS nd FROM pg GROUP BY gram)
       |       WHERE nd >= $minDocs),
       |bo AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_boiler
       |       FROM pg JOIN bg USING (gram) GROUP BY doc_id),
       |tot AS (SELECT doc_id, CAST(len(toks) - ${GramN - 1} AS BIGINT) AS n_grams
       |        FROM tokt WHERE len(toks) >= $GramN)
       |SELECT t.doc_id, t.n_grams, COALESCE(b.n_boiler, 0) AS n_boiler,
       |  (20000 * COALESCE(b.n_boiler, 0) + t.n_grams) // (2 * t.n_grams) AS boiler_bp
       |FROM tot t LEFT JOIN bo b USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** Train/eval decontamination by n-gram overlap: split the corpus
    * deterministically (doc_id % `evalMod` = 0 → eval), then report per
    * eval doc how many of its 5-gram positions appear ANYWHERE in the
    * train split — the n-gram-overlap decontamination popularized by the
    * GPT-3 appendix (public concept), run here in the direction a
    * pipeline uses it: flag eval rows whose content leaked into
    * training.
    *
    * Scale shape: train grams deduplicate with one gram-keyed agg, the
    * eval side joins against that set on the gram hash; the eval split
    * is a scan-pushed filter on both sides. Nothing is quadratic,
    * nothing touches the driver.
    */
  def decontaminate(spark: SparkSession, dir: String,
      evalMod: Long = 20L): DataFrame = {
    // ONE tokenize + explode + (doc, gram) partial-agg, eagerly
    // materialized — the train-distinct branch, the eval branch, and the
    // per-doc totals all read it (each previously re-exploded the
    // corpus); the split filter is a cheap predicate over the compact
    // aggregated rows, and n_grams = Σ c over an eval doc's grams equals
    // len(toks) − 4 exactly (gram positions counted once)
    val perDocGram = gramRows(spark, dir)
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val trainGrams = perDocGram.where(col("doc_id") % evalMod =!= 0)
      .select(col("gram")).distinct()
    val evalPerGram = perDocGram.where(col("doc_id") % evalMod === 0)
    val hits = evalPerGram.join(trainGrams, "gram")
      .groupBy(col("doc_id")).agg(sum(col("c")).as("n_hit"))
    evalPerGram
      .groupBy(col("doc_id")).agg(sum(col("c")).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_hit"))
      .withColumn("contaminated", when(col("n_hit") > 0, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  def decontaminateSql(evalMod: Long = 20L): String =
    s"""WITH $gramRowsSqlCtes,
       |tr AS (SELECT DISTINCT gram FROM g WHERE doc_id % $evalMod <> 0),
       |ev AS (SELECT doc_id, gram, count(*) AS c FROM g
       |       WHERE doc_id % $evalMod = 0 GROUP BY doc_id, gram),
       |h AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_hit
       |      FROM ev JOIN tr USING (gram) GROUP BY doc_id),
       |tot AS (SELECT doc_id, CAST(len(toks) - ${GramN - 1} AS BIGINT) AS n_grams
       |        FROM tokt WHERE doc_id % $evalMod = 0 AND len(toks) >= $GramN)
       |SELECT t.doc_id, t.n_grams, COALESCE(h.n_hit, 0) AS n_hit,
       |  CAST(CASE WHEN COALESCE(h.n_hit, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
       |FROM tot t LEFT JOIN h USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** Sequence packing: concatenate documents (greedily, in deterministic
    * doc_id order) into fixed `seqLen`-token training sequences — the
    * step that turns curated documents into the fixed-shape examples a
    * trainer consumes. Packing is WITHIN bounded shards of
    * [[PackShardSpan]] consecutive doc ids, the way real pipelines pack
    * within a writer shard: the running token sum is a window over ≤
    * span rows, so no task ever sees more than one shard (a corpus-wide
    * running sum would be the token-budget scale-killer). Each doc
    * reports the sequence it starts in and its offset there — all
    * integer arithmetic, order a pure function of doc_id.
    */
  final val PackShardSpan = 128L
  def packSequences(spark: SparkSession, dir: String,
      seqLen: Long = 512L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, dir, spread = false)
      .select(col("doc_id"),
        size(Tokenizer.tokensCol(col("text"))).cast("long").as("n_tokens"))
      .withColumn("shard", expr(s"doc_id div $PackShardSpan"))
      .withColumn("prev_tokens", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"prev_tokens div $seqLen").as("local_seq"),
        expr(s"prev_tokens % $seqLen").as("seq_offset"))
      .orderBy(col("doc_id"))
  }

  def packSequencesSql(seqLen: Long = 512L): String =
    s"""WITH tc AS (
       |  SELECT doc_id, CAST(len(${Tokenizer.duckdbTokensSql("text")}) AS BIGINT) AS n_tokens
       |  FROM documents),
       |s AS (SELECT doc_id, doc_id // $PackShardSpan AS shard, n_tokens,
       |        CAST(sum(n_tokens) OVER (PARTITION BY doc_id // $PackShardSpan
       |          ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS prev_tokens
       |      FROM tc)
       |SELECT doc_id, shard, n_tokens,
       |  prev_tokens // $seqLen AS local_seq,
       |  prev_tokens % $seqLen AS seq_offset
       |FROM s ORDER BY doc_id""".stripMargin

  /** Token-rarity score: per doc, the mean corpus document-frequency of
    * its token positions, as basis points of the corpus size — the
    * perplexity-free unigram commonness proxy (a doc of vocabulary-core
    * words scores high, a doc of rare/typo tokens scores low; the CCNet
    * LM-score role with integer-exact arithmetic). All integers, so
    * cross-engine exact: sum_df ≤ n_tokens·n_docs keeps 20000·sum_df
    * within Long for corpora under ~2·10¹³ token·docs per document —
    * per-doc domain, not corpus domain, so web scale is safe.
    *
    * Scale shape: the df table is one term-keyed distinct-doc agg;
    * joining it back is a term-keyed hash join (the vocabulary is NOT
    * assumed broadcastable — web-scale vocab with typos is unbounded);
    * the per-doc sum partial-aggregates map-side. The corpus count is
    * the one driver scalar.
    */
  def rarity(spark: SparkSession, dir: String): DataFrame = {
    // raw-scan count: metadata-only parquet job (the spread frame would
    // pay a full scan + exchange just to count rows)
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    // the (doc, term, tf) partial-agg is the compact shared intermediate
    // (EAGERLY materialized): the df branch and the join-back both read
    // it — each previously re-ran the corpus tokenize + explode — and it
    // shuffles tf rows, not raw token positions. df = count of (doc,
    // term) rows (they are distinct by construction); per-doc sums
    // reweight by tf: n_tokens = Σ tf and sum_df = Σ tf·df, exactly the
    // per-position sums (integers — regrouping cannot change a value).
    val tfRows = docs(spark, dir)
      .select(col("doc_id"), explode(Tokenizer.tokensCol(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfT = tfRows.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    tfRows.join(dfT, "term")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("tf") * col("df")).as("sum_df"))
      .withColumn("mean_df_bp",
        expr(s"(20000 * sum_df + n_tokens * ${nDocs}L) div (2 * n_tokens * ${nDocs}L)"))
      .orderBy(col("doc_id"))
  }

  /** Per-language exact quality MEDIAN + the kept count at that
    * threshold — dynamic percentile thresholding ("keep each stratum's
    * top half") computed the scale-safe way: quality_bp is an integer in
    * [0, 10000], so the stratum collapses to a ≤ 10001-row histogram and
    * the median is read off the bounded cumulative sum — NO stratum-wide
    * sort, no single-task window over raw docs (the token-budget
    * two-level discipline applied to percentiles). The median rule is
    * percentile_disc(0.5): smallest value whose cumulative count reaches
    * ceil(n/2), written `2·cum ≥ n` so both engines evaluate the same
    * integer comparison.
    */
  def qualityMedian(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one (lang, quality_bp) row per doc, EAGERLY materialized: the
    // histogram branch and the kept-count join both consume it — each
    // otherwise re-ran the corpus tokenize + quality pass
    val q = quality(spark, dir)
      .join(docs(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .select(col("lang"), col("quality_bp"))
      .localCheckpoint(true)
    val hist = q.groupBy(col("lang"), col("quality_bp")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("lang")).orderBy(asc("quality_bp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("lang"))
    val med = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_docs", sum(col("c")).over(wTot))
      .where(col("cum") * 2 >= col("n_docs"))
      .groupBy(col("lang"))
      .agg(min(col("quality_bp")).as("median_bp"), max(col("n_docs")).as("n_docs"))
    q.join(med, "lang")
      .groupBy(col("lang"), col("median_bp"), col("n_docs"))
      .agg(sum(when(col("quality_bp") >= col("median_bp"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("lang"), col("n_docs"), col("median_bp"), col("n_kept"))
      .orderBy(col("lang"))
  }

  val qualityMedianSql: String =
    s"""WITH ${qualityCtesSql()},
       |q AS (SELECT b.doc_id, d.lang, $qualityBpSql AS quality_bp
       |      FROM bp b JOIN documents d ON d.doc_id = b.doc_id),
       |hist AS (SELECT lang, quality_bp, count(*) AS c FROM q GROUP BY lang, quality_bp),
       |cum AS (SELECT lang, quality_bp,
       |          sum(c) OVER (PARTITION BY lang ORDER BY quality_bp
       |            ROWS UNBOUNDED PRECEDING) AS cum,
       |          sum(c) OVER (PARTITION BY lang) AS n_docs
       |        FROM hist),
       |med AS (SELECT lang, CAST(min(quality_bp) AS BIGINT) AS median_bp,
       |          CAST(max(n_docs) AS BIGINT) AS n_docs
       |        FROM cum WHERE 2 * cum >= n_docs GROUP BY lang)
       |SELECT m.lang, m.n_docs, m.median_bp,
       |  CAST(sum(CASE WHEN q.quality_bp >= m.median_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM q JOIN med m USING (lang)
       |GROUP BY m.lang, m.n_docs, m.median_bp
       |ORDER BY m.lang""".stripMargin

  val raritySql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(${Tokenizer.duckdbTokensSql("text")}) AS term FROM documents),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
       |nd AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT doc_id, count(*) AS n_tokens, CAST(sum(df) AS BIGINT) AS sum_df,
       |  CAST((20000 * CAST(sum(df) AS BIGINT) + count(*) * n_docs)
       |       // (2 * count(*) * n_docs) AS BIGINT) AS mean_df_bp
       |FROM tok JOIN df USING (term) CROSS JOIN nd
       |GROUP BY doc_id, n_docs ORDER BY doc_id""".stripMargin
}
