package graft.index

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.analyze.Tokenizer
import graft.codec.PostingCodec
import graft.query.Bm25

/** Distributed top-k BM25 search over the bucketed inverted index.
  *
  * Query plan (the Spark rendering of the reference's scatter-gather
  * multi-shard search, /root/reference/python/lib.cpp:330-402 +
  * `merge_into` /root/reference/include/usearch/index.hpp:2650-2670):
  *
  *   1. tokenize query → sorted unique terms
  *   2. ONE dictionary point read on the driver ([[ParquetPointReader]]:
  *      footer key ranges pick the file, the page index and a record
  *      filter the rows — no Spark job) → idf, term UBs, and the per-term
  *      bucket lists: all query planning, done by the one planner of
  *      every scoring mode ([[plan]])
  *   3. one Spark task per touched bucket ([[perBucket]], no shuffle):
  *      the task point-reads its terms' postings from its own
  *      `segments/bucket=N/` directory (the terms the dictionary lists
  *      there, `term IN (...)` over footer ranges, page index and a
  *      record filter) and its doclens row
  *   4. per-bucket WAND (doc-at-a-time, term-UB pivoting, block skipping)
  *      in that task, emitting the bucket's top-k
  *   5. global ordered merge ([[Searcher.topK]]): orderBy(score desc,
  *      docId asc).limit(k)
  *      (Catalyst `TakeOrderedAndProject` = partial top-k in the bucket
  *      tasks + final merge on the driver)
  *
  * A search is one Spark job of one stage and no exchange.
  *
  * Kernel map — three per-bucket BM25 scorers, each mode a gate over one:
  *
  *   mode                                scorer      gate
  *   search, searchExact/After/Not, the  wandBucket  none (negated postings
  *     prefix/fuzzy/wildcard/regexp                  → a bucket-local
  *     expansions, searchHot (same plan,             exclusion, composed
  *     resident rows), scoreAllMatched               with `allow`)
  *   searchMany, searchFuzzyMany         taatBucket  none
  *   searchConjunctiveMany               foldBucket  min-match gate at m = n
  *                                                   (the intersection, probed
  *                                                   from the sparsest term)
  *   searchMinMatchMany                  foldBucket  ≥ m present terms
  *   searchBool (must / phrase)          foldBucket  must ∩ phrase − negated
  *   searchSynonym, searchBoosted,       foldBucket  union (synonym member
  *     searchDisMax                                  tfs summed per group)
  *
  * Every scorer left-folds `idf · tfNorm` (times the boost in
  * searchBoosted) in sorted-term or the caller's group order, and takes
  * doc lengths from [[Searcher.docLen]]/[[Searcher.docIndex]], which fail
  * a doc missing from its bucket's norms row.
  *
  * `exact = true` disables pruning (θ stays -∞) but keeps the identical
  * accumulation order, so exact and WAND results are bit-identical —
  * mirrors `index_search_config_t.exact`
  * (/root/reference/include/usearch/index.hpp:1436-1437).
  */
final class Searcher(spark: SparkSession, root: String, cacheHot: Boolean = false,
    hotPostingsBudgetBytes: Long = Searcher.DefaultHotPostingsBudgetBytes)
  extends Serializable {
  import spark.implicits._

  private val layout = IndexBuilder.Layout(root)
  val stats: IndexStats = Meta.readStats(root)

  // Default: every dictionary/doclen access is a PRUNED Parquet read —
  // a footer-indexed point or key-range read of the range-partitioned
  // term-sorted dictionary touches one file and a few pages, and at 10¹²
  // docs the dictionary never needs to fit in RAM. `cacheHot = true` is
  // the opt-in repeated-query serving mode (the usearch `view`/in-RAM
  // analog): the dictionary loads ONCE into a driver-side map, which
  // [[dictRows]] and [[expand]] answer from, and [[searchHot]] keeps norms
  // and postings resident on the driver. For bounded indexes served hot,
  // not the scale default.
  private lazy val dictDS = {
    val raw = spark.read.parquet(layout.dict)
    if (!raw.columns.contains("buckets")) throw oldDictFormat
    raw.as[DictRow]
  }
  // round-2 format change: DictRow gained per-term bucket lists. An index
  // written by the old format would otherwise die inside a schema error —
  // surface the actionable message instead.
  private def oldDictFormat = new IllegalStateException(
    s"index at $root was built by an older graft version (dictionary has " +
      "no per-term bucket lists) — delete the index root and rebuild")
  // the serving-mode tables load on the driver through the point
  // readers: a hot fill runs no Spark job
  private lazy val hotDict: Map[String, DictRow] =
    dictReader.readAll(Searcher.dictRow).map(d => d.term -> d).toMap
  // hotDict's terms in order (sorted on the first expansion)
  private lazy val hotTerms: IndexedSeq[String] = hotDict.keys.toIndexedSeq.sorted
  private lazy val doclensDS = spark.read.parquet(layout.doclens).as[DocLenRow]

  // ONE file listing per Searcher for every table: index roots are
  // immutable once their stages commit (merges write new roots;
  // tombstoning is a read-time anti-join), so cached listings cannot go
  // stale. The session's Hadoop configuration ships to the executors
  // once per Searcher, as one broadcast both point readers share.
  private lazy val hadoopConf = spark.sparkContext.broadcast(new SerializableConfiguration(
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()))
  private lazy val dictReader = {
    val r = new ParquetPointReader[String](layout.dict, "term", hadoopConf)
    if (r.columns.nonEmpty && !r.columns.contains("buckets")) throw oldDictFormat
    r
  }
  private lazy val doclensReader = new ParquetPointReader[Int](layout.doclens, "bucket", hadoopConf)
  private lazy val segmentsDS = spark.read.parquet(layout.segments).as[PostingRow]
  // resolved only once the positions stage has committed, so a Searcher
  // opened before buildPositions sees the sidecar it later writes
  @volatile private var positionsRel: Dataset[PosRow] = _
  private def positionsDS: Dataset[PosRow] = {
    if (positionsRel == null) {
      requirePositions()
      positionsRel = spark.read.parquet(layout.positions).as[PosRow]
    }
    positionsRel
  }

  private val segments = Searcher.BucketTable("segments", layout.segments, Searcher.postingRow)
  private val positions = Searcher.BucketTable("positions", layout.positions, Searcher.posRow)
  // one point reader per bucket directory (`segments/bucket=N/`,
  // `positions/bucket=N/`), created on first touch; each lists its
  // footers once per Searcher, on the driver
  private val bucketReaders =
    new java.util.concurrent.ConcurrentHashMap[String, ParquetPointReader[String]]()
  private def bucketReader(table: Searcher.BucketTable[_], bucket: Int) =
    bucketReaders.computeIfAbsent(s"${table.dir}/bucket=$bucket",
      dir => new ParquetPointReader[String](dir, "term", hadoopConf))

  /** A user `allow` predicate can be large: it ships as a broadcast, and
    * the common unfiltered search creates none.
    */
  private def broadcastAllow(allow: Option[Long => Boolean]) =
    allow.map(spark.sparkContext.broadcast(_))

  /** The per-bucket seam of every scoring and positional path: one Spark
    * task per touched bucket (at most `spark.sql.shuffle.partitions`
    * slices) and no shuffle. Each task point-reads, from its own
    * bucket directory of `table`, the rows of the terms the dictionary
    * lists there ([[Searcher.readBucket]]), then its doclens row, and
    * runs `kernel` ([[Searcher.bucketNorms]] fails a bucket without a
    * norms row). Closures must not capture the Searcher: per-query values
    * ride them as locals.
    */
  private def perBucket[R: ClassTag, U: Encoder](table: Searcher.BucketTable[R],
      termsByBucket: Map[Int, Seq[String]])(
      kernel: (Int, Array[R], DocLenRow) => Iterator[U]): Dataset[U] = {
    if (termsByBucket.isEmpty) return spark.emptyDataset[U]
    val norms = doclensReader.covering(termsByBucket.keys)
    val tasks = termsByBucket.toSeq.sortBy(_._1).map { case (b, ts) =>
      (b, ts, bucketReader(table, b).covering(ts))
    }
    val slices = math.min(tasks.size, spark.sessionState.conf.numShufflePartitions)
    val (rootLocal, tableLocal) = (root, table)
    implicit val tag: ClassTag[U] = implicitly[Encoder[U]].clsTag
    spark.createDataset(spark.sparkContext.parallelize(tasks, slices).flatMap {
      case (bucket, terms, reader) =>
        val rows = Searcher.readBucket(tableLocal, reader, bucket, terms, rootLocal)
        kernel(bucket, rows, Searcher.bucketNorms(bucket,
          norms.read(Seq(bucket))(Searcher.docLenRow).headOption, rootLocal))
    })
  }

  /** The segment rows of `terms` in one bucket, point-read on the driver. */
  private[graft] def bucketPostings(bucket: Int, terms: Seq[String]): Array[PostingRow] =
    Searcher.readBucket(segments, bucketReader(segments, bucket), bucket, terms, root)

  // ---- hot serving path (driver-side, cacheHot only) -------------------
  // The usearch in-RAM serving analog taken to its conclusion: once the
  // dictionary, norms, and the query terms' postings are resident, a
  // query should cost ZERO Spark jobs — the distributed path's ~0.5 s
  // per-query floor is job launch, not scoring. All caches are bounded:
  // doclens is nDocs·16 B (the serving-mode premise is a bounded index),
  // postings evict LRU under `hotPostingsBudgetBytes` (a constructor
  // knob; default 256 MB), and the charge per term covers BOTH the
  // encoded blocks and the worst-case decoded expansion (hotDecoded holds
  // docId:8 + tf:4 per posting), so driver residency never exceeds the
  // budget by the decode factor. searchHot is synchronized: concurrent
  // serving queries share one access-ordered LRU + one byte account.
  private lazy val hotDoclens: Map[Int, DocLenRow] =
    doclensReader.readAll(Searcher.docLenRow).map(d => d.bucket -> d).toMap
  private var hotPostingsBytes: Long = 0L
  private val hotPostings =
    new java.util.LinkedHashMap[String, Array[PostingRow]](64, 0.75f, true)
  // bucket → term → decoded postings, filled by the kernel's first use
  private val hotDecoded =
    new java.util.HashMap[Int, java.util.HashMap[String, graft.codec.Postings]]()

  /** Budget charge for one term's resident rows: encoded block bytes +
    * per-block/row overhead + the decoded arrays hotDecoded will hold
    * (12 B/posting: long docId + int tf). Charged up front — decode
    * happens lazily but within the same residency lifetime.
    */
  private def hotRowCost(rows: Array[PostingRow]): Long =
    rows.iterator.map(r =>
      r.blocks.iterator.map(_.bytes.length.toLong + 40L).sum + 12L * r.df + 64L).sum

  private def hotRowsFor(terms: Seq[String]): Map[String, Array[PostingRow]] = {
    val missing = terms.filterNot(hotPostings.containsKey)
    if (missing.nonEmpty) {
      // uncached terms are point-read on the driver from the bucket
      // directories the dictionary lists them in, through the same
      // per-bucket readers as the distributed path: no Spark job
      val fetched = Searcher.bucketTerms(hotDict, missing).toArray
        .flatMap { case (b, ts) => bucketPostings(b, ts) }
        .groupBy(_.term)
      missing.foreach { t =>
        val rows = fetched.getOrElse(t, Array.empty[PostingRow])
        hotPostings.put(t, rows)
        hotPostingsBytes += hotRowCost(rows)
      }
      // LRU eviction keeps the resident postings (encoded + decoded)
      // under budget; the current query's terms are never evicted
      val it = hotPostings.entrySet().iterator()
      while (hotPostingsBytes > hotPostingsBudgetBytes && it.hasNext) {
        val e = it.next()
        if (!terms.contains(e.getKey)) {
          hotPostingsBytes -= hotRowCost(e.getValue)
          e.getValue.foreach(r => Option(hotDecoded.get(r.bucket)).foreach(_.remove(r.term)))
          it.remove()
        }
      }
    }
    terms.iterator.map(t => t -> hotPostings.get(t)).toMap
  }

  /** [[perBucket]]'s driver-side twin over the resident rows: the same
    * kernel contract (the rows the dictionary lists in the bucket, then
    * its norms row), run on the driver with no Spark job.
    */
  private def hotPerBucket[U](termsByBucket: Map[Int, Seq[String]])(
      kernel: (Int, Array[PostingRow], DocLenRow) => Iterator[U]): Iterator[U] = {
    val rows = hotRowsFor(termsByBucket.valuesIterator.flatten.toSeq.distinct)
      .valuesIterator.flatten.toArray.groupBy(_.bucket)
    termsByBucket.keysIterator.flatMap(b =>
      kernel(b, rows.getOrElse(b, Array.empty), Searcher.bucketNorms(b, hotDoclens.get(b), root)))
  }

  /** Serving-mode search: [[search]]'s own plan and bucket kernel run on
    * the driver over resident postings — zero Spark jobs per query (a
    * cold term is point-read on the driver), and bit-identical to
    * [[search]] (same kernel, same per-bucket k, same (score desc, docId
    * asc) merge); EngineSpec pins it, and the `eng_bm25_hot` driver
    * entry runs it against the same SQL oracle as the distributed path.
    * Decoded postings stay resident across queries. Requires
    * `cacheHot = true`; per-query latency is the scoring cost itself
    * (ms), which is what a serving deployment of a BOUNDED index
    * actually pays — the distributed path remains the scale default.
    */
  def searchHot(
      query: String,
      k: Int,
      exact: Boolean = false,
      allow: Option[Long => Boolean] = None,
      after: Option[(Double, Long)] = None): Array[Hit] = synchronized {
    require(cacheHot, "searchHot requires a Searcher built with cacheHot = true")
    planSearch(query, k, exact, None, None, "", after) match {
      case None => Array.empty
      case Some((termsByBucket, kernel)) =>
        hotPerBucket(termsByBucket) { (b, rows, dl) =>
          kernel(rows, dl, allow, hotDecoded.computeIfAbsent(b, _ => new java.util.HashMap()))
        }.toArray.sortBy(h => (-h.score, h.docId)).take(k)
    }
  }

  /** `memory_usage`/`serialized_length` analog: per-component on-disk
    * sizes (component, files, bytes) from filesystem metadata only.
    */
  def memoryUsage(): DataFrame = {
    import spark.implicits._
    Meta.byteSizes(root).toDF("component", "files", "bytes")
  }

  /** `stats(level)` analog (/root/reference/include/usearch/index.hpp:
    * 3133-3210 reports per-level node/edge stats): per-BUCKET breakdown
    * of this index — (bucket, n_docs, n_tokens, n_terms, n_postings) —
    * the table a user reads to spot skew or a lopsided generation. One
    * column-pruned groupBy over segment-row METADATA (term/df only; the
    * encoded blocks are never read) plus one pass over the doclens rows.
    */
  def levelsStats(): DataFrame = {
    val segs = segmentsDS
      .select(col("bucket"), col("term"), col("df"))
      .groupBy(col("bucket"))
      .agg(countDistinct(col("term")).as("n_terms"), sum(col("df")).as("n_postings"))
    val dls = doclensDS
      .map(d => (d.bucket, d.docIds.length.toLong, d.lens.sum))
      .toDF("bucket", "n_docs", "n_tokens")
    dls.join(segs, "bucket")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        col("n_terms"), col("n_postings"))
      .orderBy(col("bucket"))
  }

  /** Index AUDIT (fsck): recompute every cross-table invariant from the
    * stored bytes and report one summary row — the operational check a
    * user runs after a merge, a resume, or a suspect job, analogous to
    * the reference's serialization round-trip and metadata self-checks
    * (/root/reference/python/scripts/test_index.py:87-129,
    * include/usearch/index.hpp:3133-3210). Verified invariants:
    *
    *  - `bad_df`: segment rows whose stored per-bucket df != decoded
    *    posting count, whose docIds are not strictly ascending, or whose
    *    docIds fall outside the row's bucket range
    *  - `bad_dict`: dictionary terms whose global df != the sum of the
    *    term's bucket dfs (or present on only one side)
    *  - `bad_doclen`: docs whose doclens norm != the decoded sum of the
    *    doc's tfs (or present in postings but not doclens / vice versa
    *    with a nonzero length)
    *  - `bad_meta`: stats.properties fields that differ from the
    *    recomputed scalars
    *  - `bad_pos`: (positions sidecar only, `checkPositions = true`)
    *    positional entries whose per-doc position count != the posting
    *    tf, positions not strictly ascending, or (term, doc) pairs
    *    present on only one side
    *
    * The corpus scalars in the row (n_docs, total_tokens, n_terms,
    * n_postings) are recomputed FROM THE DECODED SEGMENTS, so an oracle
    * comparing them against a raw-corpus recomputation transitively pins
    * the stored bytes to the corpus. Scale shape: one pass over
    * segments (+ one over positions), decode executor-side, the doc-tf
    * re-aggregation is the same key-partitioned shuffle the build ran;
    * the driver holds one row.
    */
  def integrityReport(checkPositions: Boolean = false): DataFrame = {
    // resolved on the caller's thread, before any job: an uncommitted
    // sidecar fails with its remediation message
    val positions = if (checkPositions) Some(positionsDS) else None
    val bs = stats.bucketSize
    // decoded per-(term, bucket) facts
    val perRow = segmentsDS
      .map { r =>
        val p = PostingCodec.decodeBlocks(r.blocks.map(_.bytes).toSeq)
        var sumTf = 0L
        var asc = true
        var inBucket = true
        var prev = Long.MinValue
        var i = 0
        while (i < p.size) {
          sumTf += p.tfs(i)
          if (p.docIds(i) <= prev) asc = false
          if ((p.docIds(i) / bs).toInt != r.bucket) inBucket = false
          prev = p.docIds(i)
          i += 1
        }
        (r.term, r.bucket, p.size.toLong, sumTf,
          r.df == p.size.toLong && asc && inBucket)
      }.toDF("term", "bucket", "n_postings", "sum_tf", "ok")
      .cache()
    // materialize the decode cache with the scalars pass; the three
    // remaining verification passes (dict df, doclens norms, positions)
    // are independent of each other and run as CONCURRENT jobs so each
    // one's stage tail back-fills the others' idle executor slots
    val scalars = perRow.agg(
      sum(col("n_postings")).as("n_postings"),
      sum(col("sum_tf")).as("total_tokens"),
      countDistinct(col("term")).as("n_terms"),
      sum(when(!col("ok"), 1L).otherwise(0L)).as("bad_df")).head()
    val pool = IndexBuilder.stagePool
    def submit[T](f: => T): java.util.concurrent.Future[T] =
      pool.submit(new java.util.concurrent.Callable[T] { override def call(): T = f })
    // dictionary df == sum of bucket dfs, term sets equal
    val badDictF = submit {
      val dictAgg = perRow.groupBy(col("term"))
        .agg(sum(col("n_postings")).as("seg_df"))
      dictDS.select(col("term"), col("df"))
        .join(dictAgg, Seq("term"), "full_outer")
        .where(col("df").isNull || col("seg_df").isNull || col("df") =!= col("seg_df"))
        .count()
    }
    // per-doc decoded tf sums == doclens norms; the doclens row count
    // falls out of the same full-outer join (the separate dlFlat.count()
    // job re-read and re-flattened every doclens row)
    val dlAggF = submit {
      val docTf = segmentsDS
        .flatMap { r =>
          val p = PostingCodec.decodeBlocks(r.blocks.map(_.bytes).toSeq)
          p.docIds.iterator.zip(p.tfs.iterator).map { case (d, tf) => (d, tf.toLong) }
        }.toDF("doc_id", "tf")
        .groupBy(col("doc_id")).agg(sum(col("tf")).as("sum_tf"))
      val dlFlat = doclensDS
        .flatMap(r => r.docIds.iterator.zip(r.lens.iterator))
        .toDF("doc_id", "dl")
      dlFlat.join(docTf, Seq("doc_id"), "full_outer")
        .agg(
          sum(when(coalesce(col("dl"), lit(0L)) =!= coalesce(col("sum_tf"), lit(0L)), 1L)
            .otherwise(0L)).as("bad"),
          sum(when(col("dl").isNotNull, 1L).otherwise(0L)).as("n_docs"))
        .head()
    }
    val badPosF = submit {
      positions.fold(0L) { pos =>
        val posFlat = pos
          .flatMap { r =>
            val p = graft.codec.PositionCodec.decodeBlocks(r.blocks.map(_.bytes).toSeq)
            p.docIds.iterator.zip(p.positions.iterator).map { case (d, ps) =>
              val asc = ps.indices.forall(i => i == 0 || ps(i - 1) < ps(i))
              (r.term, d, ps.length.toLong, asc)
            }
          }.toDF("term", "doc_id", "n_pos", "pos_ok")
        val tfFlat = segmentsDS
          .flatMap { r =>
            val p = PostingCodec.decodeBlocks(r.blocks.map(_.bytes).toSeq)
            p.docIds.iterator.zip(p.tfs.iterator).map { case (d, tf) => (r.term, d, tf.toLong) }
          }.toDF("term", "doc_id", "tf")
        posFlat.join(tfFlat, Seq("term", "doc_id"), "full_outer")
          .where(col("n_pos").isNull || col("tf").isNull ||
            col("n_pos") =!= col("tf") || !col("pos_ok"))
          .count()
      }
    }
    val badDict = badDictF.get()
    val dlAgg = dlAggF.get()
    val badPos = badPosF.get()
    val badDoclen = if (dlAgg.isNullAt(0)) 0L else dlAgg.getLong(0)
    val nDocs = if (dlAgg.isNullAt(1)) 0L else dlAgg.getLong(1)
    val nPostings = scalars.getLong(0)
    val totalTokens = scalars.getLong(1)
    val nTerms = scalars.getLong(2)
    val badDf = scalars.getLong(3)
    perRow.unpersist()
    // meta nDocs counts the whole corpus; doclens only docs with ≥1
    // token (norms derive from tf), so ≥ is the true invariant there
    val badMeta =
      Seq(stats.nDocs >= nDocs, stats.totalTokens == totalTokens,
        stats.nTerms == nTerms, stats.totalPostings == nPostings)
        .count(!_).toLong
    Seq((nDocs, totalTokens, nTerms, nPostings, badDf, badDict, badDoclen,
      badMeta, badPos))
      .toDF("n_docs", "total_tokens", "n_terms", "n_postings", "bad_df",
        "bad_dict", "bad_doclen", "bad_meta", "bad_pos")
  }

  /** Per-term df from this index's dictionary (tiny pruned read). */
  def termDfs(terms: Seq[String]): Map[String, Long] =
    dictRows(terms).map { case (t, d) => t -> d.df }

  /** Full dictionary rows (df, term UB, bucket list) for the query
    * terms — ONE pruned read answers everything the query planning
    * needs; the buckets list replaces the former distinct-bucket scan
    * job over the postings.
    */
  def dictRows(terms: Seq[String]): Map[String, DictRow] = {
    if (terms.isEmpty) return Map.empty
    if (cacheHot)
      terms.iterator.flatMap(t => hotDict.get(t).map(t -> _)).toMap
    else
      dictReader.read(terms)(Searcher.dictRow).map(d => d.term -> d).toMap
  }

  /** The one query planner of every scoring mode: the [[dictRows]] point
    * read of `terms` and the statistics to score them with, this index's
    * own — or the `shard` plan a [[MultiSearcher]] injects when this index
    * is one of its generations: this index's rows of the query terms,
    * read once by the scatter, with the global N/df/avgdl every shard
    * must score with, or the merged ranking is meaningless. It must have
    * read every term asked of it, or an unread one drops out silently.
    */
  private def plan(terms: collection.Seq[String],
      shard: Option[Searcher.Plan] = None): Searcher.Plan = shard match {
    case Some(p) =>
      require(terms.forall(p.read), s"shard plan did not read every term of ${terms.mkString(" ")}")
      p
    case None =>
      val ts = terms.distinct.sorted.toSeq
      val local = dictRows(ts)
      Searcher.Plan(ts.toSet, local,
        GlobalStats(stats.nDocs, stats.avgdl, local.map { case (t, d) => t -> d.df }), stats.avgdl)
  }

  /** The one dictionary expansion of every term-expanding mode: the
    * `(term, df)` pairs that start with the literal `head` and pass
    * `accept`, in term order, at most `limit` of them — under `cacheHot`,
    * from a walk of the sorted hot terms over the head's run; else, for a
    * non-empty `head`, from a key-range read of the term-sorted dictionary
    * on the driver (no Spark job) that stops at the `limit`-th accepted
    * term; else (a leading `*`, a regexp without a literal head, fuzzy)
    * from one dictionary scan filtered, ordered and limited on the
    * executors, so `accept` must not capture the Searcher.
    */
  private def expand(head: String, accept: String => Boolean,
      limit: Int): Seq[(String, Long)] = Searcher.prefixEnd(head) match {
    case _ if cacheHot =>
      Iterator.range(hotTerms.search(head).insertionPoint, hotTerms.length).map(hotTerms)
        .takeWhile(_.startsWith(head)).filter(accept).take(limit).map(t => t -> hotDict(t).df).toSeq
    case Some(hi) =>
      dictReader.readRange(head, hi, limit)(r => (r[String]("term"), r[Long]("df")))(
        t => accept(t._1)).sortBy(_._1).take(limit)
    case None =>
      val matched = dictDS.select($"term", $"df").as[(String, Long)].filter(t => accept(t._1))
      (if (limit == Int.MaxValue) matched else matched.orderBy($"term").limit(limit))
        .collect().toSeq.sortBy(_._1)
  }

  /** [[expand]] under the loud `maxExpansion` bound: it asks for at most
    * one term past the bound and fails if there is one.
    */
  private def expandAtMost(what: String, head: String, accept: String => Boolean,
      maxExpansion: Int): Seq[String] = {
    val past = if (maxExpansion == Int.MaxValue) maxExpansion else maxExpansion + 1
    val terms = expand(head, accept, past).map(_._1)
    if (terms.size > maxExpansion) throw Searcher.tooWide(what, maxExpansion)
    terms
  }

  /** The expansion scored as one disjunctive BM25 query by [[search]]. */
  private def searchExpansion(terms: Seq[String], k: Int): DataFrame =
    if (terms.isEmpty) noHits else search(terms.mkString(" "), k)

  private def noHits = spark.emptyDataset[Hit].toDF("doc_id", "score")
  private def noPartials = spark.emptyDataset[(Int, Long, Double)].toDF("query_id", "doc_id", "score")

  /** Decoded (term, doc_id) membership pairs for the given terms — ONE
    * segments read pruned by `term IN (...)` pushdown plus the
    * dictionary's bucket partition filter, blocks decoded on executors.
    * The index-as-candidate-source primitive: containment/phrase queries
    * get their candidate doc sets from the index instead of re-tokenizing
    * the corpus (posting enumeration analog of the reference's member
    * iteration, /root/reference/include/usearch/index.hpp:2982-3009).
    */
  def postingDocIds(terms: Seq[String]): DataFrame = {
    val empty = spark.emptyDataset[(String, Long)].toDF("term", "doc_id")
    if (terms.isEmpty) return empty
    val local = dictRows(terms)
    val buckets = terms
      .flatMap(t => local.get(t).map(_.buckets.toSeq).getOrElse(Seq.empty)).distinct
    if (buckets.isEmpty) return empty
    segmentsDS
      .where($"term".isin(terms: _*) && $"bucket".isin(buckets: _*))
      .flatMap { row =>
        val p = PostingCodec.decodeBlocks(row.blocks.map(_.bytes).toSeq)
        Iterator.tabulate(p.size)(i => (row.term, p.docIds(i)))
      }
      .toDF("term", "doc_id")
  }

  /** Document TERM VECTORS (the Lucene term-vectors / reference `get`
    * analog for text payloads,
    * /root/reference/include/usearch/index_dense.hpp:781-786): for each
    * requested doc, every (term, tf) of the doc recovered from the
    * INVERTED index — the corpus text is never read. Scale shape: the
    * scan is pruned to the docs' buckets only (bucket = docId /
    * bucketSize is a pure function of the id), but within those buckets
    * every term row must be decoded — the inherent cost of serving a
    * forward-index question from an inverted layout, documented rather
    * than hidden (an engine whose users need this hot should keep the
    * corpus table, which IS the forward index). Rows shuffle nothing:
    * decode, filter to the requested ids, emit.
    */
  def termVectors(docIds: Seq[Long]): DataFrame = {
    val empty = spark.emptyDataset[(Long, String, Long)].toDF("doc_id", "term", "tf")
    if (docIds.isEmpty) return empty
    val buckets = docIds.map(id => (id / stats.bucketSize).toInt).distinct
    val idsB = spark.sparkContext.broadcast(docIds.toSet)
    segmentsDS
      .where($"bucket".isin(buckets: _*))
      .flatMap { row =>
        val ids = idsB.value
        val p = PostingCodec.decodeBlocks(row.blocks.map(_.bytes).toSeq)
        p.docIds.iterator.zip(p.tfs.iterator)
          .collect { case (d, tf) if ids(d) => (d, row.term, tf.toLong) }
      }
      .toDF("doc_id", "term", "tf")
      .orderBy(col("doc_id"), col("term"))
  }

  /** Whether this index was built with the positions sidecar
    * ([[IndexBuilder.buildPositions]]).
    */
  def hasPositions: Boolean =
    java.nio.file.Files.exists(layout.statusFile("positions"))

  private def requirePositions(): Unit = require(hasPositions,
    s"index at $root has no positions sidecar — run IndexBuilder.buildPositions first")

  /** Index-only PHRASE search, batched: for each (phrase_id, phrase),
    * every document containing the phrase as a verbatim token sequence,
    * with its occurrence count — answered from the positions sidecar
    * alone, the corpus text is never read (the reference's exact-text
    * retrieval direction, /root/reference/README.md:3-4,
    * /root/reference/cpp/test.cpp:982-1060).
    *
    * Plan shape (scale-safe by the same argument as `search`):
    * ONE pruned dictionary read plans everything; phrases with a
    * dictionary-absent term die at planning (zero data jobs); candidate
    * buckets per phrase = the INTERSECTION of its terms' bucket lists;
    * each candidate bucket's task point-reads its terms' positions
    * ([[positionalMany]]), decodes each needed term once and
    * verifies positional adjacency doc-by-doc, driving the intersection
    * from the bucket-sparsest term. Duplicate terms in a phrase
    * ("table window table") are handled by offset lists. Overlapping
    * occurrences each count (position arithmetic, not substring count).
    *
    * Returns DataFrame(phrase_id: Int, doc_id: Long, phrase_tf: Long)
    * ordered (phrase_id, doc_id), rows only where phrase_tf > 0.
    */
  def phraseMany(phrases: Seq[(Int, String)]): DataFrame =
    positionalMany(phrases.map { case (id, p) => (id, Tokenizer.tokenize(p), ()) }) {
      (id, ts, _, byTerm) =>
        Searcher.phraseHitsInBucket(ts, byTerm).map { case (d, n) => (id, d, n) }
    }
      .toDF("phrase_id", "doc_id", "phrase_tf")
      .orderBy(col("phrase_id"), col("doc_id"))

  /** The shared plan of the positional batch operators: one dictionary
    * point read plans everything, queries with a dictionary-absent term
    * die at planning (zero data jobs), a query's candidate buckets are
    * the intersection of its terms' bucket lists, and each bucket task
    * point-reads and decodes its terms' positions once, then runs `hits`
    * for every query whose candidates include the bucket.
    */
  private def positionalMany[Q, U: Encoder](qs: Seq[(Int, Array[String], Q)])(
      hits: (Int, Array[String], Q, Map[String, graft.codec.PosPostings]) => Iterator[U])
      : Dataset[U] = {
    requirePositions()
    val p = plan(qs.flatMap(_._2))
    val live = qs.filter { case (_, ts, _) => ts.nonEmpty && ts.forall(p.live) }
    val queryBuckets: Map[Int, Set[Int]] =
      live.map { case (id, ts, _) => id -> p.candidates(ts, ts.length) }.toMap
    val buckets = queryBuckets.values.flatten.toSet
    perBucket(positions, Searcher.bucketTerms(p.local, live.flatMap(_._2), buckets)) {
      (bucket, rows, _) =>
        val byTerm = Searcher.decodePositions(rows)
        live.iterator
          .filter { case (id, _, _) => queryBuckets(id).contains(bucket) }
          .flatMap { case (id, ts, q) => hits(id, ts, q, byTerm) }
    }
  }

  /** Index-only PROXIMITY search, batched: for each (query_id, query,
    * window), every document whose minimal token window containing ALL
    * distinct query terms is ≤ `window` long, with that minimal span and
    * its leftmost start position (0-based) — answered from the positions
    * sidecar alone, like [[phraseMany]] (the proximity/NEAR operator a
    * fulltext user runs next to phrase; reference's exact-text retrieval
    * direction, /root/reference/README.md:3-4).
    *
    * Semantics: min_span = min over all m-tuples (one position per
    * distinct term) of (max − min + 1); span_start = the smallest start
    * among tuples achieving min_span. Both are integers — no float
    * crosses the engine boundary. Plan shape identical to [[phraseMany]]:
    * one pruned dictionary read plans everything, queries with a
    * dictionary-absent term die at planning, candidate buckets per query
    * are the intersection of its terms' bucket lists, per-bucket
    * positions point reads and sorted-list sweeps ([[positionalMany]]).
    *
    * Returns DataFrame(query_id: Int, doc_id: Long, min_span: Long,
    * span_start: Long) ordered (query_id, doc_id), rows only where
    * min_span ≤ window.
    */
  def proximityMany(queries: Seq[(Int, String, Int)]): DataFrame =
    positionalMany(queries.map { case (id, q, w) =>
      (id, Tokenizer.tokenize(q).distinct.sorted, w)
    }) { (id, ts, w, byTerm) =>
      Searcher.proximityHitsInBucket(ts, w, byTerm)
        .map { case (d, span, start) => (id, d, span, start) }
    }
      .toDF("query_id", "doc_id", "min_span", "span_start")
      .orderBy(col("query_id"), col("doc_id"))

  /** Index-only ORDERED-SPAN search, batched (the Lucene `span_near
    * (in_order=true)` analog next to [[proximityMany]]'s unordered NEAR;
    * reference's exact-text retrieval direction,
    * /root/reference/README.md:3-4): for each (query_id, phrase, window),
    * every document where the phrase's tokens appear IN ORDER at strictly
    * increasing positions within a window of ≤ `window` tokens, with the
    * minimal such span and its leftmost start — answered from the
    * positions sidecar alone.
    *
    * Semantics: over all position tuples p₀ < p₁ < … < p_{m−1} (one per
    * query token, IN QUERY ORDER — duplicates allowed, the strict
    * inequality keeps their positions distinct), min_span =
    * min(p_{m−1} − p₀ + 1), span_start = the smallest p₀ among tuples
    * achieving min_span. INTEGERS only — nothing floats across the
    * engine boundary. A phrase match is exactly the min_span = m case.
    *
    * Plan shape identical to [[proximityMany]]: one pruned dictionary
    * read plans everything, dictionary-absent terms kill their query at
    * planning, candidate buckets are the intersection of the terms'
    * bucket lists, per-bucket positions point reads and greedy sweeps
    * (O(positions · log) per doc, see
    * [[Searcher.orderedSpanHitsInBucket]]).
    *
    * Returns DataFrame(query_id: Int, doc_id: Long, min_span: Long,
    * span_start: Long) ordered (query_id, doc_id), rows only where
    * min_span ≤ window.
    */
  def spanOrderedMany(queries: Seq[(Int, String, Int)]): DataFrame =
    // tokens IN ORDER — the ordered constraint is the whole point
    positionalMany(queries.map { case (id, q, w) => (id, Tokenizer.tokenize(q), w) }) {
      (id, ts, w, byTerm) =>
        Searcher.orderedSpanHitsInBucket(ts, w, byTerm)
          .map { case (d, span, start) => (id, d, span, start) }
    }
      .toDF("query_id", "doc_id", "min_span", "span_start")
      .orderBy(col("query_id"), col("doc_id"))

  /** Index-only HIT COUNTING, batched (the search-engine `count` API /
    * total-hits shape — the reference's size-introspection analog,
    * `/root/reference/include/usearch/index.hpp:1760-1780` `size()`):
    * for each disjunctive query, the number of documents matching ≥ 1
    * query term and the total occurrences of the query's terms — from
    * postings alone, the corpus text is never read. INTEGERS only.
    *
    * Scale shape: buckets partition the docId space, so per-bucket
    * distinct-doc counts add up WITHOUT a global distinct — one task per
    * touched bucket point-reads its terms' postings, per-bucket
    * union counts (each term's block decoded once per bucket, shared
    * across queries), one partial-aggregated sum per query. Nothing
    * scales with corpus size beyond the matched postings; driver holds
    * |queries| rows. Dictionary-dead queries report (0, 0) without
    * touching the cluster.
    *
    * Returns DataFrame(query_id: Int, n_docs: Long, total_tf: Long)
    * ordered by query_id, one row per input query.
    */
  def countMany(queries: Seq[(Int, String)]): DataFrame = {
    val qs: Seq[(Int, Array[String])] = queries.map { case (id, q) =>
      (id, Tokenizer.tokenize(q).distinct.sorted)
    }
    val zeros = spark.createDataset(qs.map { case (id, _) => (id, 0L, 0L) })
      .toDF("query_id", "n_docs", "total_tf")
    val p = plan(qs.flatMap(_._2))
    val live = qs.map { case (id, ts) => (id, ts.filter(p.live)) }.filter(_._2.nonEmpty)
    if (live.isEmpty) return zeros.orderBy(col("query_id"))
    val queryBuckets: Map[Int, Set[Int]] =
      live.map { case (id, ts) => id -> p.candidates(ts, 1) }.toMap
    val partials =
      perBucket(segments, Searcher.bucketTerms(p.local, live.flatMap(_._2))) {
        (bucket, rows, _) =>
          val post = Searcher.decoder(rows)
          live.iterator
            .filter { case (id, _) => queryBuckets(id).contains(bucket) }
            .map { case (id, ts) =>
              val ps = ts.flatMap(post)
              (id, Searcher.atLeast(ps.toSeq.map(_.docIds), 1).length.toLong,
                ps.iterator.map(_.tfs.iterator.map(_.toLong).sum).sum)
            }
      }
        .toDF("query_id", "n_docs", "total_tf")
        .groupBy(col("query_id"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_tf")).as("total_tf"))
    // dead / bucket-empty queries still owe a (0, 0) row
    zeros.select(col("query_id"))
      .join(partials, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_docs", "total_tf"))
      .orderBy(col("query_id"))
  }

  /** Index-only SORT-BY-FIELD search (the search-engine `sort` clause —
    * rank matches by a stored field instead of relevance): documents
    * matching ≥ 1 query term, top-k by (doc length desc, docId asc),
    * where the length is the index's own doclens norm — postings +
    * doclens only, the corpus text is never read. INTEGERS only.
    *
    * Scale shape: one task per touched bucket point-reads its postings,
    * per-bucket union + doclen lookup + bounded top-k (the same
    * [[Searcher.TopK]] the scoring paths use — doc lengths < 2⁵³ are
    * exact as doubles), then ONE global ordered k-merge
    * (TakeOrderedAndProject). Only k rows leave each bucket.
    *
    * Returns DataFrame(rank: Int, doc_id: Long, dl: Long).
    */
  def searchSortedByLen(query: String, k: Int): DataFrame = {
    val empty = spark.emptyDataset[(Int, Long, Long)].toDF("rank", "doc_id", "dl")
    val ts = Tokenizer.tokenize(query).distinct.sorted
    val p = plan(ts)
    val live = ts.filter(p.live)
    if (live.isEmpty) return empty
    // the length rides the merge's `score` column
    val byLen = perBucket(segments, Searcher.bucketTerms(p.local, live)) { (_, rows, dl) =>
      val topk = new Searcher.TopK(k)
      Searcher.atLeast(rows.toSeq.map(r =>
        PostingCodec.decodeBlocks(r.blocks.map(_.bytes).toSeq).docIds), 1)
        .foreach(d => topk.offer(d, Searcher.docLen(dl, d).toDouble))
      topk.result
    }.toDF("doc_id", "score")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), asc("doc_id"))
    Searcher.topK(byLen, k)
      .select(row_number().over(w).as("rank"), col("doc_id"),
        col("score").cast("long").as("dl"))
      .orderBy(col("rank"))
  }

  /** Index-only PHRASE-PREFIX search (the `match_phrase_prefix` /
    * type-ahead shape): documents where the head tokens are immediately
    * followed by ANY dictionary term starting with `prefix`, with the
    * total occurrence count. Expansion terms occupy the same position
    * slot, so per-expansion phrase counts are disjoint and their sum
    * equals "count of head occurrences whose next token has the prefix"
    * — the definition a SQL oracle checks directly. INTEGERS only.
    *
    * Plan shape: the prefix expands by a key-range read on the driver
    * ([[expand]], no Spark job; loudly bounded by maxExpansion, the
    * [[searchPrefix]] contract); the expansions ride [[phraseMany]]'s ONE
    * batched positions sweep (decode-once per bucket across all
    * expansions); one partial-aggregated sum per doc.
    *
    * Returns DataFrame(doc_id: Long, phrase_tf: Long) ordered by doc_id.
    */
  def phrasePrefix(head: String, prefix: String, maxExpansion: Int = 1024): DataFrame = {
    requirePositions()
    val empty = spark.emptyDataset[(Long, Long)].toDF("doc_id", "phrase_tf")
    val headTs = Tokenizer.tokenize(head)
    require(headTs.nonEmpty, s"phrase-prefix head '$head' normalizes to nothing")
    val p = Searcher.oneToken("phrase-prefix suffix", prefix)
    val exps = expandAtMost(s"prefix '$prefix'", p, _ => true, maxExpansion)
    if (exps.isEmpty) return empty
    phraseMany(exps.zipWithIndex.map { case (e, i) => (i, (headTs :+ e).mkString(" ")) })
      .groupBy(col("doc_id")).agg(sum(col("phrase_tf")).as("phrase_tf"))
      .orderBy(col("doc_id"))
  }

  /** Dictionary ENUMERATION (the terms-enum / vocabulary-browse API —
    * the reference's key-export analog over the TERM space,
    * /root/reference/include/usearch/index_dense.hpp:691-701
    * `export_keys`): for each prefix, the first n dictionary terms in
    * ascending term order with their document frequencies. INTEGERS +
    * strings only.
    *
    * Scale shape: one key-range read of the dictionary per prefix on the
    * driver ([[expand]]), the first n of each, sorted into a local frame:
    * collecting it runs no Spark job. The corpus and the postings are
    * never touched.
    *
    * Returns DataFrame(prefix_id: Int, term: String, df: Long) ordered
    * (prefix_id, term); an expansion-empty prefix contributes no rows.
    */
  def termsEnum(prefixes: Seq[(Int, String)], n: Int): DataFrame =
    prefixes.flatMap { case (id, p) => expand(p, _ => true, n).map { case (t, df) => (id, t, df) } }
      .sortBy(r => (r._1, r._2))
      .toDF("prefix_id", "term", "df")

  /** Index-only DOC-LENGTH PERCENTILES (the index-stats readout a corpus
    * census runs; the reference's per-level stats direction,
    * /root/reference/include/usearch/index.hpp:3133-3210): for each
    * requested percentile p, the (⌊(n−1)·p/100⌋+1)-th smallest doc
    * length among the n docs the index holds norms for — the "lower"
    * interpolation rule, INTEGERS end-to-end.
    *
    * Scale shape: doclens → (dl, count) histogram (partial-aggregated;
    * rows bounded by DISTINCT length values, not docs), one cumulative
    * window over that bounded frame, then a partial-aggregated `min`
    * per percentile. The only driver scalar is n. A corpus whose
    * distinct-length cardinality itself explodes would pre-bucket
    * lengths first; at any realistic doc-length bound the histogram is
    * thousands of rows.
    *
    * Returns DataFrame(p: Int, dl: Long) ordered by p.
    */
  def lenPercentiles(ps: Seq[Int]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 100),
      s"percentiles must be in [0, 100], got $ps")
    val hist = doclensDS
      .flatMap(r => r.lens.iterator)
      .toDF("dl")
      .groupBy(col("dl")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("dl")).rowsBetween(Long.MinValue, 0)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val n: Long = hist.agg(sum(col("cnt"))).collect().head.getLong(0)
    ps.map { p =>
      val target = (n - 1L) * p / 100L + 1L // min cum ≥ target ⇔ sorted[k], k = ((n−1)p)/100
      cum.where(col("cum") >= target)
        .agg(min(col("dl")).as("dl"))
        .select(lit(p).as("p"), col("dl"))
    }.reduce(_ unionAll _)
      .orderBy(col("p"))
  }

  /** Index-only COLLOCATION mining, batched: for each seed term, the
    * top-n terms that immediately FOLLOW it in the corpus (the bigram
    * "what comes next" table a query-suggestion / phrase-mining pipeline
    * reads), counted from the positions sidecar alone — the corpus text
    * is never read. Ranking is (pair count desc, follower asc): INTEGERS
    * ONLY, reproducible across engines to the last row.
    *
    * Plan shape: ONE pruned dictionary read plans everything
    * (dictionary-absent seeds die at planning); the seed side is a
    * positions read pruned by term-IN + the seeds' bucket lists, decoded
    * BLOCK-BY-BLOCK into (seed, bucket, doc, pos+1) rows; the follower
    * side reads the same buckets' positions for all terms (bucket
    * pushdown only — the token after a seed occurrence can be ANY term),
    * decoded block-by-block into (bucket, doc, pos, term); an equi-join
    * on (bucket, doc, pos) pairs them, a partial-aggregated count and a
    * per-seed window (partitions bounded by the probe list) rank the
    * followers. No task ever decodes a whole bucket (block granularity =
    * [[graft.codec.PostingCodec.BlockSize]] docs); the join and count
    * are ordinary shuffles. Cost is O(positions in the seeds' buckets) —
    * the inherent lower bound for collocation mining, paid from the
    * compressed sidecar instead of a corpus re-tokenize.
    *
    * Returns DataFrame(seed, rank, follower, n_pairs) ordered
    * (seed, rank). A seed occurrence at end-of-document has no follower
    * and contributes nothing (inner join).
    */
  def followersMany(seeds: Seq[String], n: Int): DataFrame = {
    requirePositions()
    val empty = spark.emptyDataset[(String, Int, String, Long)]
      .toDF("seed", "rank", "follower", "n_pairs")
    val norm = seeds.flatMap(Tokenizer.tokenize).distinct.sorted
    val local = dictRows(norm)
    val live = norm.filter(t => local.get(t).exists(_.df > 0L))
    if (live.isEmpty) return empty
    val buckets = live.flatMap(t => local(t).buckets).distinct
    val seedOcc = positionsDS
      .where($"term".isin(live: _*) && $"bucket".isin(buckets: _*))
      .flatMap { r =>
        r.blocks.iterator.flatMap { b =>
          val p = graft.codec.PositionCodec.decodeBlock(b.bytes)
          p.docIds.iterator.zip(p.positions.iterator).flatMap { case (d, ps) =>
            ps.iterator.map(pos => (r.term, r.bucket, d, pos + 1))
          }
        }
      }
      .toDF("seed", "bucket", "doc_id", "pos")
    val followers = positionsDS
      .where($"bucket".isin(buckets: _*))
      .flatMap { r =>
        r.blocks.iterator.flatMap { b =>
          val p = graft.codec.PositionCodec.decodeBlock(b.bytes)
          p.docIds.iterator.zip(p.positions.iterator).flatMap { case (d, ps) =>
            ps.iterator.map(pos => (r.bucket, d, pos, r.term))
          }
        }
      }
      .toDF("bucket", "doc_id", "pos", "follower")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"seed").orderBy($"n_pairs".desc, $"follower".asc)
    seedOcc.join(followers, Seq("bucket", "doc_id", "pos"))
      .groupBy($"seed", $"follower")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= n)
      .select($"seed", $"rank", $"follower", $"n_pairs")
      .orderBy($"seed", $"rank")
  }

  /** SIGNIFICANT TERMS of a match set (the Elasticsearch
    * significant_terms aggregation shape): for the documents matching a
    * disjunctive query, the terms most concentrated in that match set,
    * ranked by foreground share share_bp = (10000·df_fg) div df —
    * the integer basis-point fraction of a term's corpus docs that lie
    * inside the match set. INTEGERS ONLY end-to-end (rank =
    * share_bp desc, df_fg desc, term asc), so both engines agree to the
    * last row; the query's own terms rank at 10000 by construction,
    * self-validating the contract.
    *
    * Plan shape: match docs come from [[postingDocIds]] (pruned posting
    * reads); the foreground term counts decode the segments table pruned
    * to the QUERY TERMS' buckets (every match doc lives there — bucket =
    * docId range), block-by-block, semi-joined to the match set before
    * the count; background df is the dictionary column. One shuffle for
    * the semi-join, partial-aggregated counts, a single bounded window.
    * Nothing reads the corpus text and nothing scales with the
    * vocabulary beyond the matched buckets' postings.
    */
  def significantTerms(queryTerms: Seq[String], n: Int,
      minDfFg: Long = 2L): DataFrame = {
    val norm = queryTerms.flatMap(Tokenizer.tokenize).distinct.sorted
    val empty = spark.emptyDataset[(String, Long, Long, Long, Int)]
      .toDF("term", "df_fg", "df", "share_bp", "rank")
    val local = dictRows(norm)
    val live = norm.filter(t => local.get(t).exists(_.df > 0L))
    if (live.isEmpty) return empty
    val buckets = live.flatMap(t => local(t).buckets).distinct
    val matches = postingDocIds(live).select($"doc_id").distinct()
    val fgPairs = segmentsDS
      .where($"bucket".isin(buckets: _*))
      .flatMap { r =>
        r.blocks.iterator.flatMap { b =>
          val p = graft.codec.PostingCodec.decodeBlock(b.bytes)
          p.docIds.iterator.map(d => (r.term, d))
        }
      }
      .toDF("term", "doc_id")
    val fg = fgPairs
      .join(matches, Seq("doc_id"), "left_semi")
      .groupBy($"term").agg(count(lit(1)).as("df_fg"))
      .where($"df_fg" >= minDfFg)
    // distributed top-n (TakeOrderedAndProject — no global window over
    // the full vocabulary), then the rank numbering over ≤ n rows
    val top = fg.join(dictDS.select($"term", $"df"), "term")
      .withColumn("share_bp", expr("(10000 * df_fg) div df"))
      .orderBy($"share_bp".desc, $"df_fg".desc, $"term".asc)
      .limit(n)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"share_bp".desc, $"df_fg".desc, $"term".asc)
    top.withColumn("rank", row_number().over(w))
      .select($"term", $"df_fg", $"df", $"share_bp", $"rank")
      .orderBy($"rank")
  }

  /** Batched CONJUNCTIVE (AND-semantics) BM25 top-k: only documents
    * containing EVERY query term are ranked — the boolean-AND retrieval
    * mode next to [[searchMany]]'s disjunctive WAND/TAAT (a fulltext
    * engine's `+term +term` query; same exact-search rank-identity
    * contract as the reference, /root/reference/include/usearch/
    * index.hpp:4251-4268).
    *
    * It IS [[searchMinMatchMany]] at m = n (each query's distinct-token
    * count): a query with any dictionary-absent term is dead at planning
    * (zero data jobs — AND of an absent term is empty); candidate buckets
    * are where all n terms post (the intersection of their bucket
    * lists); the gate at m = n is the intersection probed from the
    * bucket-sparsest term ([[Searcher.atLeast]]), and survivors get the
    * identical sorted-term left-fold `idf · Bm25.tfNorm` arithmetic as
    * [[searchMany]], so a conjunctive hit's score is bit-identical to the
    * same doc's disjunctive score.
    *
    * Returns (query_id, doc_id, score, rank) ordered (query_id, rank).
    */
  def searchConjunctiveMany(queries: Seq[(Int, String)], k: Int): DataFrame =
    Searcher.finishMany(minMatchManyBuckets(Searcher.conjunctive(queries), k), k)

  /** Batched MINIMUM-SHOULD-MATCH top-k (the Lucene/Elasticsearch
    * `minimum_should_match` knob): rank documents containing at least
    * `m` of the query's terms — the retrieval mode BETWEEN disjunctive
    * ([[searchMany]], m=1) and conjunctive ([[searchConjunctiveMany]],
    * m=n), and bit-identical to each at its endpoint (the survivor set
    * coincides and the score is the same sorted-term left fold over
    * PRESENT terms — RetrievalModesSpec pins both).
    *
    * Semantics for dictionary-absent terms follow the boolean optional-
    * clause rule: an absent term can never match, so it only lowers the
    * achievable count — a query with fewer than `m` live terms is dead
    * at planning. Candidate buckets per query are those where at least
    * `m` of its terms have postings (a doc elsewhere cannot reach `m`).
    *
    * Returns (query_id, doc_id, score, rank) ordered (query_id, rank).
    */
  def searchMinMatchMany(queries: Seq[(Int, String, Int)], k: Int): DataFrame =
    Searcher.finishMany(minMatchManyBuckets(queries, k), k)

  /** Per-bucket partials of [[searchMinMatchMany]] and
    * [[searchConjunctiveMany]] (same exposure contract as
    * [[searchManyBuckets]]; a doc lives entirely in one generation, so
    * per-shard counts are complete).
    */
  private[index] def minMatchManyBuckets(
      queries: Seq[(Int, String, Int)],
      k: Int,
      shard: Option[Searcher.Plan] = None): DataFrame = {
    queries.foreach { case (id, _, m) =>
      require(m >= 1, s"minimum_should_match must be >= 1, got $m (query $id)")
    }
    val qTerms = queries.map { case (id, q, m) => (id, Tokenizer.tokenize(q).distinct.sorted, m) }
    val p = plan(qTerms.flatMap(_._2), shard)
    // optional-clause rule: absent terms drop; a query with < m live
    // terms cannot match anything — dead at planning
    val qs = qTerms.map { case (id, ts, m) => (id, ts.filter(p.live), m) }
      .filter { case (_, ts, m) => ts.length >= m }.toArray
    if (qs.isEmpty) return noPartials
    val liveTerms = qs.flatMap(_._2).distinct.sorted
    val idfByTerm = p.idfByTerm(liveTerms)
    val queryBuckets: Map[Int, Set[Int]] =
      qs.map { case (id, ts, m) => id -> p.candidates(ts, m) }.toMap
    val termsByBucket =
      Searcher.bucketTerms(p.local, liveTerms, queryBuckets.values.flatten.toSet)
    val avgdl = p.g.avgdl
    // gate: the docs holding at least m of the query's present terms,
    // folded over those terms in sorted order
    perBucket(segments, termsByBucket) { (bucket, rows, dl) =>
      val post = Searcher.decoder(rows)
      qs.iterator.filter { case (id, _, _) => queryBuckets(id).contains(bucket) }
        .flatMap { case (id, ts, m) =>
          val present = ts.flatMap(t => post(t).map(t -> _))
          if (present.length < m) Iterator.empty
          else Searcher.foldBucket(Searcher.atLeast(present.toSeq.map(_._2.docIds), m),
            Array.emptyLongArray, present.map(p => Array(p._2)),
            present.map(p => idfByTerm(p._1)), dl, avgdl, k)
            .map(h => (id, h.docId, h.score))
        }
    }.toDF("query_id", "doc_id", "score")
  }

  /** PREFIX-expanded top-k search (the dictionary-driven `term*` wildcard
    * query): expand the prefix by a key-range read of the dictionary on
    * the driver ([[expand]], no Spark job), then score the expansion as a
    * disjunctive BM25 query through [[search]] (each matched term weighted
    * by its own idf). `maxExpansion` bounds the fan-out loudly: a
    * one-letter prefix over a web-scale dictionary is a user error, not a
    * silent full scan.
    */
  def searchPrefix(prefix: String, k: Int, maxExpansion: Int = 1024): DataFrame = {
    require(prefix.nonEmpty && prefix.matches("[a-z0-9]+"),
      s"prefix must be a non-empty token fragment [a-z0-9]+, got '$prefix'")
    searchExpansion(expandAtMost(s"prefix '$prefix'", prefix, _ => true, maxExpansion), k)
  }

  /** WILDCARD top-k search (`me*ge`, `*tion`, `pre*` — `*` matches any
    * run of characters): the [[searchPrefix]] contract generalized. The
    * literal head is the key range [[expand]] reads on the driver; a
    * leading `*` is a documented full dictionary scan (Lucene's
    * leading-wildcard caveat) — one bounded metadata-table pass, never a
    * postings or corpus scan.
    */
  def searchWildcard(pattern: String, k: Int, maxExpansion: Int = 1024): DataFrame = {
    require(pattern.matches("[a-z0-9*]+") && pattern.exists(_ != '*'),
      s"wildcard pattern must be [a-z0-9*]+ with at least one literal char, got '$pattern'")
    if (!pattern.contains("*")) return search(pattern, k)
    val rx = java.util.regex.Pattern.compile(pattern.split("\\*", -1).mkString(".*"))
    searchExpansion(expandAtMost(s"pattern '$pattern'", pattern.takeWhile(_ != '*'),
      t => rx.matcher(t).matches(), maxExpansion), k)
  }

  /** The longest literal prefix every string matching `^pattern$` must
    * start with — the pushdown anchor for [[searchRegexp]]. Conservative:
    * a top-level alternation voids it, and a trailing `*`/`?` quantifier
    * makes the last literal optional (dropped). Soundness only affects
    * pruning, never results — the regex re-checks every term.
    */
  private def regexpLiteralHead(pattern: String): String = {
    var depth = 0
    var topAlt = false
    pattern.foreach {
      case '(' => depth += 1
      case ')' => depth -= 1
      case '|' if depth == 0 => topAlt = true
      case _ =>
    }
    if (topAlt) return ""
    val run = pattern.takeWhile(c => c.isDigit || (c >= 'a' && c <= 'z'))
    if (run.nonEmpty && run.length < pattern.length &&
      "*?".contains(pattern(run.length))) run.dropRight(1)
    else run
  }

  /** REGEXP top-k search (the Lucene RegexpQuery analog): an anchored
    * regular expression expanded over the dictionary and scored like
    * [[searchWildcard]], generalized to character classes, alternation
    * and quantifiers. The grammar is restricted to constructs Java regex
    * and RE2-family engines evaluate identically (`[a-z0-9]`, classes,
    * `.`, `*`, `+`, `?`, `|`, grouping) so a cross-engine oracle can
    * independently replay the expansion. A mandatory literal head is the
    * key range [[expand]] reads on the driver; otherwise the expansion is
    * one bounded dictionary scan.
    */
  def searchRegexp(pattern: String, k: Int, maxExpansion: Int = 1024): DataFrame = {
    require(pattern.matches("""[a-z0-9\[\]\^\-().*+?|]+"""),
      s"regexp must use only [a-z0-9], classes, grouping, '.', '*', '+', '?', '|'; got '$pattern'")
    val rx = java.util.regex.Pattern.compile("(" + pattern + ")")
    searchExpansion(expandAtMost(s"regexp '$pattern'", regexpLiteralHead(pattern),
      t => rx.matcher(t).matches(), maxExpansion), k)
  }

  /** SNIPPET/highlight search, batched: conjunctive BM25 top-k
    * ([[searchConjunctiveMany]]) where each returned doc also carries the
    * leftmost minimal token window covering ALL query terms — the
    * preview/highlight anchor — computed index-only from the positions
    * sidecar for exactly the k·|queries| hit docs, never the corpus text.
    *
    * Scale shape: the top-k hits are a bounded driver move (k rows per
    * query, the same move every top-k entry makes); the positions read is
    * then pruned THREE ways — term IN, the hits' own docId-range buckets
    * (bucket = docId / bucketSize, a pure function of the hit), and a
    * per-doc hit-set filter inside the sweep — so snippet cost is
    * O(positions of the query terms in the hit buckets), independent of
    * corpus size.
    *
    * Returns (query_id, rank, doc_id, score, snippet_start, snippet_len)
    * ordered (query_id, rank); snippet_start is 0-based.
    */
  def snippetMany(queries: Seq[(Int, String)], k: Int): DataFrame = {
    requirePositions()
    // ONE execution of the conjunctive search: the bounded top-k rows
    // come to the driver (k per query) and re-enter the plan as a local
    // broadcast-joinable relation
    val hitRows: Array[(Int, Long, Double, Int)] =
      searchConjunctiveMany(queries, k)
        .select($"query_id", $"doc_id", $"score", $"rank")
        .as[(Int, Long, Double, Int)].collect()
    val hits = hitRows.toSeq.toDF("query_id", "doc_id", "score", "rank")
    val empty = spark.emptyDataset[(Int, Long, Long, Long)]
      .toDF("query_id", "doc_id", "snippet_start", "snippet_len")
    val windows: DataFrame = if (hitRows.isEmpty) empty else {
      val docsByQuery: Map[Int, Set[Long]] =
        hitRows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val termsByQuery: Map[Int, Array[String]] = queries
        .map { case (id, q) => id -> Tokenizer.tokenize(q).distinct.sorted }
        .filter { case (id, _) => docsByQuery.contains(id) }.toMap
      val bs = stats.bucketSize
      val bucketsByQuery: Map[Int, Set[Int]] =
        docsByQuery.map { case (q, ds) => q -> ds.map(d => (d / bs).toInt) }
      val liveTerms = termsByQuery.values.flatten.toSeq.distinct.sorted
      val qs = termsByQuery.map { case (q, ts) =>
        (q, ts, bucketsByQuery(q), docsByQuery(q))
      }.toArray
      val hitBuckets = bucketsByQuery.values.flatten.toSet
      perBucket(positions, Searcher.bucketTerms(dictRows(liveTerms), liveTerms, hitBuckets)) {
        (bucket, rows, _) =>
          val byTerm = Searcher.decodePositions(rows)
          qs.iterator
            .filter { case (_, _, bks, _) => bks.contains(bucket) }
            .flatMap { case (id, ts, _, ds) =>
              val only = new java.util.HashSet[Long](ds.size * 2)
              ds.foreach(only.add)
              Searcher.proximityHitsInBucket(ts, Int.MaxValue, byTerm, only)
                .map { case (d, span, start) => (id, d, start, span) }
            }
      }
        .toDF("query_id", "doc_id", "snippet_start", "snippet_len")
    }
    // every conjunctive hit contains all terms, so the inner join is
    // lossless by construction (RetrievalModesSpec pins the count)
    hits.join(windows, Seq("query_id", "doc_id"))
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"),
        col("snippet_start"), col("snippet_len"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Top-k search. Returns DataFrame(doc_id: Long, score: Double) ordered
    * (score desc, doc_id asc), exactly k rows or fewer.
    *
    * `allow`: optional doc-level predicate applied *during* scoring (the
    * `filtered_search` analog,
    * /root/reference/include/usearch/index_dense.hpp:774-779) — non-
    * matching docs never enter the top-k buffer, so ranks come from the
    * filtered set, not a post-filter of unfiltered top-k.
    *
    * `negQuery`: boolean NOT terms (see [[searchNot]]) — their postings
    * are point-read, in the buckets the query terms touch, by the same
    * bucket task that scores, and become a bucket-local exclusion
    * composed with `allow`; scoring and ranking are otherwise untouched.
    */
  def search(
      query: String,
      k: Int,
      exact: Boolean = false,
      allow: Option[Long => Boolean] = None,
      counters: Option[SearchCounters] = None,
      negQuery: String = "",
      after: Option[(Double, Long)] = None): DataFrame =
    Searcher.topK(searchBuckets(query, k, exact, allow, None, counters, negQuery, after), k)

  /** [[search]]'s per-bucket hits (doc_id, score), each bucket's top-k,
    * NOT yet merged — exposed so [[MultiSearcher.search]] can union the
    * hits of several generations (each scored with injected global
    * stats) under ONE merge.
    */
  private[index] def searchBuckets(
      query: String,
      k: Int,
      exact: Boolean,
      allow: Option[Long => Boolean],
      shard: Option[Searcher.Plan],
      counters: Option[SearchCounters] = None,
      negQuery: String = "",
      after: Option[(Double, Long)] = None): DataFrame =
    planSearch(query, k, exact, shard, counters, negQuery, after) match {
      case None => noHits
      case Some((termsByBucket, kernel)) =>
        val allowB = broadcastAllow(allow)
        perBucket(segments, termsByBucket) { (_, rows, dl) =>
          kernel(rows, dl, allowB.map(_.value), null)
        }.toDF("doc_id", "score")
    }

  /** The plan of [[search]] and [[searchHot]] over [[plan]]: the live
    * query terms with their idfs, the UB scale, and each bucket to read
    * with the terms the dictionary lists there; the returned kernel
    * scores one bucket. None when no query term is live.
    */
  private def planSearch(
      query: String,
      k: Int,
      exact: Boolean,
      shard: Option[Searcher.Plan],
      counters: Option[SearchCounters],
      negQuery: String,
      after: Option[(Double, Long)]): Option[(Map[Int, Seq[String]], Searcher.SearchKernel)] = {
    val negTerms = Tokenizer.tokenize(negQuery).distinct.sorted
    // a term both offered and forbidden can never contribute: every doc
    // containing it is excluded, so the negation wins per-term at
    // planning (Lucene's SHOULD/MUST_NOT resolution) and dropping it
    // from the scoring list changes no surviving doc's score
    val qTerms = Tokenizer.tokenize(query).distinct.sorted
      .filterNot(negTerms.contains)
    val p = plan(qTerms ++ negTerms, shard)
    val termList = qTerms.filter(p.live).toSeq
    if (termList.isEmpty) return None
    // negated terms are read only in the buckets the scoring terms touch
    val touched = Searcher.bucketTerms(p.local, termList).keySet
    val negLive = negTerms.filter(p.posts)
    Some((Searcher.bucketTerms(p.local, (termList ++ negLive).distinct, touched),
      Searcher.SearchKernel(p.idfByTerm(termList), negLive.toSet, p.g.avgdl, p.ubScale, k,
        exact, counters.orNull, after)))
  }

  /** Exact search convenience (full scoring, no pruning). */
  def searchExact(query: String, k: Int): DataFrame = search(query, k, exact = true)

  /** Every matched doc fully scored, NO top-k bound and NO global order —
    * the retrieval-side input for grouped/collapsed operators (the
    * Elasticsearch `collapse` / grouped-top-k shape), where the best hit
    * of a small group can sit arbitrarily deep in the global ranking and
    * a k-bounded retrieval would lose it.
    *
    * Scale shape: [[search]]'s own plan and bucket kernel, exact and
    * with no k bound (one dictionary point read, one postings-reading
    * task per touched bucket); per-bucket state is
    * the matched-doc set, bounded by the bucket-width geometry (≤ 2²⁰
    * docs) like the TAAT accumulator; the output frame is unordered and
    * meant to be AGGREGATED (argmax per group, partial map-side), never
    * globally sorted. Scores are the identical sorted-term left fold as
    * [[search]] in exact mode, so a collapsed hit's double equals the
    * disjunctive score for that doc.
    */
  def scoreAllMatched(query: String): DataFrame =
    // k = MaxValue keeps every scored doc: TopK's heap grows lazily, so
    // memory is O(matched-in-bucket) ≤ bucket width
    searchBuckets(query, Int.MaxValue, exact = true, None, None)

  /** SEARCH-AFTER deep pagination (the Lucene `searchAfter` analog; the
    * reference's paging surface is `export_keys`' offset/limit,
    * /root/reference/python/lib.cpp:320-340): the next k hits strictly
    * after the cursor `(score, docId)` in the (score desc, docId asc)
    * total order. Page p+1 is bit-identical to
    * `search(query, k·(p+1))` rows `k·p..k·(p+1)` (pinned in
    * RetrievalModesSpec) WITHOUT re-merging a k·(p+1) heap: each bucket
    * keeps a k-sized heap of post-cursor docs only, so deep pages don't
    * grow per-task memory or the merged row count — the property that
    * matters when a 100 TB corpus serves page 1000. Scores are
    * bit-identical doubles everywhere, so the cursor's equality arm is
    * exact (no epsilon).
    */
  def searchAfter(query: String, k: Int, after: (Double, Long)): DataFrame =
    search(query, k, after = Some(after))

  /** SYNONYM-GROUP search (Lucene SynonymQuery semantics; the reference's
    * analog is scoring against a multi-member key,
    * /root/reference/include/usearch/index_dense.hpp:781-786 multi-vector
    * direction): each group of terms behaves as ONE pseudo-term —
    * per-doc tf' = Σ member tfs (integer addition, order-free), group
    * df' = MAX member df (the SynonymQuery docFreq rule: an upper bound
    * that never double-counts co-occurring synonyms), score = left fold
    * over groups in ascending canonical-member order of
    * idf(df') · tfNorm(tf', dl) — the same deterministic-fold discipline
    * as the term path.
    *
    * Scale shape: identical to [[search]] — one pruned dictionary read
    * plans everything, one postings-reading task per touched bucket, the
    * union of member postings verified by [[Searcher.foldBucket]],
    * bounded top-k per bucket, one global k-merge.
    */
  def searchSynonym(groups: Seq[Seq[String]], k: Int): DataFrame = {
    val norm: Seq[Seq[String]] =
      groups.map(_.flatMap(Tokenizer.tokenize).distinct.sorted).filter(_.nonEmpty)
    val flat = norm.flatten
    require(flat.distinct.size == flat.size,
      s"synonym groups must be disjoint, got $groups")
    // fold order = ascending canonical (pre-liveness) head, a pure
    // function of the QUERY — a dict-absent first member must not
    // reshuffle the accumulation order an oracle derives statically.
    // weight 1.0: `1.0 * x == x` is IEEE-exact, so the weighted core is
    // bit-identical to the historical unweighted synonym fold.
    searchGroupsWeighted(norm.sortBy(_.head).map((_, 1.0)), k)
  }

  /** BOOSTED term query (the Lucene `term^boost` analog): each term's
    * BM25 contribution is scaled by its weight, folded in ascending term
    * order — score = Σ_t w_t · (idf_t · tfNorm_t), the multiplication
    * associated exactly as written so a SQL oracle can mirror it
    * (`(w) * ((idf)*(tfNorm))`). Dictionary-absent terms drop out
    * (boost and all); duplicate terms are an error, not a silent merge.
    */
  def searchBoosted(weights: Seq[(String, Double)], k: Int): DataFrame = {
    val norm = weights.map { case (t, w) =>
      val tok = Searcher.oneToken("boosted entry", t)
      require(!w.isNaN && w > 0.0, s"boost for '$t' must be a positive double, got $w")
      (tok, w)
    }
    require(norm.map(_._1).distinct.size == norm.size,
      s"boosted terms must be distinct, got $weights")
    searchGroupsWeighted(
      norm.sortBy(_._1).map { case (t, w) => (Seq(t), w) }, k)
  }

  /** DISJUNCTION-MAX query (the Lucene `dis_max` analog): per doc,
    * score = best + tie · (sum − best) over the per-term BM25 parts —
    * the best single term dominates and the others contribute only a
    * tie-breaking fraction, the scoring mode a multi-field / synonym-ish
    * search runs when summing would over-reward redundant matches.
    *
    * Determinism contract: parts fold in ascending term order (absent
    * terms contribute an exact +0.0); `best` is a fold of max (exact and
    * order-free for the always-positive BM25 parts vs a 0.0 floor);
    * `best + tie · (sum − best)` is three IEEE ops in a fixed
    * association, so a SQL oracle writing the identical expression gets
    * identical bits. tie must be an exactly-representable double the
    * oracle can re-literal (0.25 here); tie = 1 reduces to the ordinary
    * disjunctive sum. Plan shape identical to [[search]] (see
    * [[searchGroupsWeighted]]).
    */
  def searchDisMax(terms: Seq[String], tie: Double, k: Int): DataFrame = {
    val norm = terms.map(Searcher.oneToken("dis-max entry", _))
    require(norm.distinct.size == norm.size, s"dis-max terms must be distinct, got $terms")
    require(tie >= 0.0 && tie <= 1.0, s"tie breaker must be in [0, 1], got $tie")
    searchGroupsWeighted(
      norm.sorted.map(t => (Seq(t), 1.0)), k, disMaxTie = Some(tie))
  }

  /** Shared weighted-group scoring core ([[searchSynonym]] with all
    * weights 1.0, [[searchBoosted]] with singleton groups): per-doc
    * tf' = Σ member tfs (integer adds, order-free), group df' = MAX
    * member df, score = left fold over groups in the CALLER's order of
    * w · (idf(df') · tfNorm(tf', dl)). Members absent from the
    * dictionary drop out of their group (the disjunctive dead-term
    * rule, per member); a fully-dead group contributes exactly nothing,
    * so dropping it is exact.
    *
    * Scale shape: identical to [[search]] — one pruned dictionary read
    * plans everything, one postings-reading task per touched bucket
    * whose gate is the union of the groups' postings, verified by
    * [[Searcher.foldBucket]], bounded top-k per bucket, one global
    * k-merge.
    */
  private def searchGroupsWeighted(
      norm: Seq[(Seq[String], Double)], k: Int,
      disMaxTie: Option[Double] = None): DataFrame = {
    val p = plan(norm.flatMap(_._1))
    val liveW = norm.map { case (g, w) => (g.filter(p.live), w) }.filter(_._1.nonEmpty)
    if (liveW.isEmpty) return noHits
    val live = liveW.map(_._1)
    val ws: Array[Double] = liveW.map(_._2).toArray
    val idfs: Array[Double] = live.map(p.idf).toArray
    val avgdl = p.g.avgdl
    // gate: the union of the groups' postings
    Searcher.topK(perBucket(segments, Searcher.bucketTerms(p.local, live.flatten)) { (_, rows, dl) =>
      val post = Searcher.decoder(rows)
      val groups = live.map(_.flatMap(post).toArray).toArray
      Searcher.foldBucket(Searcher.atLeast(groups.toSeq.flatten.map(_.docIds), 1),
        Array.emptyLongArray, groups, idfs, dl, avgdl, k, ws, disMaxTie)
    }.toDF("doc_id", "score"), k)
  }

  /** Score EXPLAIN (the Lucene `explain` analog; the reference's
    * per-metric score introspection is `distance_between`,
    * /root/reference/include/usearch/index_dense.hpp:853-866): for the
    * query's top-k documents, one row per (doc, present term) with the
    * term's tf, df, and raw BM25 contribution, plus the doc's total raw
    * score and rank. The per-term part is computed with the scorer's OWN
    * [[Bm25.score]] double arithmetic (not a Catalyst re-expression of
    * the formula, whose literal-promotion order drifts a last ulp), so
    * the sorted-term left fold of `part_raw` reconstructs `score_raw`
    * bit-for-bit (pinned in RetrievalOpsSpec).
    *
    * Scale shape: the k hits are the only driver-side rows; the
    * breakdown is ONE pruned segments read (term IN + the top-k docs'
    * buckets only — bucket = docId / bucketSize is a pure function of
    * the hit), decoded executor-side and filtered to the k docs before
    * anything shuffles.
    */
  def explain(query: String, k: Int): DataFrame = {
    val top = search(query, k).as[(Long, Double)].collect()
    if (top.isEmpty)
      return spark.emptyDataset[(Int, Long, String, Long, Long, Double, Double)]
        .toDF("rank", "doc_id", "term", "tf", "df", "part_raw", "score_raw")
    val qTerms = Tokenizer.tokenize(query).distinct.sorted
    val local = dictRows(qTerms)
    val live = qTerms.filter(t => local.get(t).exists(_.df > 0L))
    val n = stats.nDocs
    val avgdl = stats.avgdl
    val topIds = top.map(_._1)
    val buckets = topIds.map(id => (id / stats.bucketSize).toInt).distinct.toSeq
    val idsB = spark.sparkContext.broadcast(topIds.toSet)
    val tfRows = segmentsDS
      .where($"term".isin(live: _*) && $"bucket".isin(buckets: _*))
      .flatMap { r =>
        val p = PostingCodec.decodeBlocks(r.blocks.map(_.bytes).toSeq)
        val ids = idsB.value
        p.docIds.iterator.zip(p.tfs.iterator)
          .collect { case (d, tf) if ids(d) => (r.term, d, tf.toLong) }
      }.toDF("term", "doc_id", "tf")
    val dlRows = doclensDS
      .where($"bucket".isin(buckets: _*))
      .flatMap { r =>
        val ids = idsB.value
        r.docIds.iterator.zip(r.lens.iterator)
          .collect { case (d, l) if ids(d) => (d, l) }
      }.toDF("doc_id", "dl")
    val dfTbl = live.toSeq.map(t => (t, local(t).df)).toDF("term", "df")
    val hits = top.zipWithIndex
      .map { case ((d, s), i) => (i + 1, d, s) }.toSeq
      .toDF("rank", "doc_id", "score_raw")
    tfRows
      .join(broadcast(dfTbl), "term")
      .join(broadcast(dlRows), "doc_id")
      .join(broadcast(hits), "doc_id")
      .select(col("rank").cast("int"), col("doc_id"), col("term"), col("tf"),
        col("df"), col("dl"), col("score_raw"))
      .as[(Int, Long, String, Long, Long, Long, Double)]
      // part via the ENGINE's Bm25.score — Catalyst's evaluation of the
      // equivalent SQL fragment differs in the last ulp (literal/promotion
      // order), and the bit-for-all fold contract is to the scorer
      .map { case (rank, d, t, tf, df, dl, sc) =>
        (rank, d, t, tf, df, Bm25.score(tf.toInt, df, dl, n, avgdl), sc)
      }
      .toDF("rank", "doc_id", "term", "tf", "df", "part_raw", "score_raw")
      .orderBy(col("rank"), col("term"))
  }

  /** Boolean AND-NOT search (`term -term` mode): the top-k over documents
    * matching ANY positive term and NO negative term, scored on the
    * positive terms only with the identical sorted-term BM25 fold — the
    * predicate-during-scoring contract of `filtered_search`
    * (/root/reference/include/usearch/index_dense.hpp:774-779) with the
    * predicate itself derived from the index: negative postings are
    * decoded bucket-locally into an exclusion array inside the same
    * bucket task that scores, so ranks come from the filtered set and no doc
    * ids ever move to the driver. A term both offered and forbidden
    * resolves to the negation (SHOULD/MUST_NOT): it is dropped from
    * scoring at planning, exactly value-preserving since every doc
    * containing it is excluded anyway.
    */
  def searchNot(query: String, negQuery: String, k: Int,
      exact: Boolean = false): DataFrame =
    search(query, k, exact = exact, negQuery = negQuery)

  /** FUZZY-expanded top-k search (the `term~d` edit-distance query),
    * the [[searchPrefix]] contract over an edit ball: an edit ball has
    * no key range, so [[expand]] runs ONE dictionary scan with the
    * bounded edit-distance DP ([[Searcher.levWithin]]) as its
    * executor-side filter.
    */
  def searchFuzzy(probe: String, k: Int, maxDist: Int = 1,
      maxExpansion: Int = 1024): DataFrame = {
    val q = Searcher.fuzzyProbe(probe, maxDist)
    searchExpansion(expandAtMost(s"probe '$q'~$maxDist", "",
      t => Searcher.levWithin(t, q, maxDist), maxExpansion), k)
  }

  /** Batched fuzzy search: every probe expanded in ONE dictionary scan
    * ([[expand]] filtered by "within d edits of any probe"), regrouped
    * by probe on the driver, each probe loudly bounded by `maxExpansion`;
    * the expansions ride ONE [[searchMany]] TAAT pass. Per-probe results
    * are bit-identical to [[searchFuzzy]] (RetrievalModesSpec pins it).
    * Returns (query_id, doc_id, score, rank) ordered (query_id, rank).
    */
  def searchFuzzyMany(probes: Seq[(Int, String, Int)], k: Int,
      maxExpansion: Int = 1024): DataFrame = {
    val norm = probes.map { case (id, p, d) => (id, Searcher.fuzzyProbe(p, d), d) }
    val matched = if (norm.isEmpty) Seq.empty else expand("",
      t => norm.exists { case (_, q, d) => Searcher.levWithin(t, q, d) }, Int.MaxValue).map(_._1)
    val synth = norm.flatMap { case (id, q, d) =>
      val ts = matched.filter(t => Searcher.levWithin(t, q, d))
      if (ts.size > maxExpansion) throw Searcher.tooWide(s"probe '$q'~$d", maxExpansion)
      if (ts.isEmpty) None else Some(id -> ts.mkString(" "))
    }
    if (synth.isEmpty)
      spark.emptyDataset[(Int, Long, Double, Int)].toDF("query_id", "doc_id", "score", "rank")
    else searchMany(synth, k)
  }

  /** DID-YOU-MEAN term suggestion (the Lucene DirectSpellChecker shape;
    * the reference's analog is approximate lookup over stored keys,
    * /root/reference/include/usearch/index_dense.hpp:774-786): for each
    * probe, the top-n dictionary terms within `maxDist` edits, ranked by
    * (distance asc, df desc, term asc) — INTEGERS ONLY, never a float
    * similarity, so the ranking is reproducible across engines to the
    * last row. An exact dictionary hit ranks first at distance 0 (the
    * caller can drop it; keeping it makes the contract total).
    *
    * Scale shape: ONE column-pruned dictionary scan for the whole batch
    * (coarse length band is the pushable predicate; the bounded DP runs
    * executor-side), then a per-probe window rank over the edit ball —
    * bounded by vocabulary within `maxDist` edits, never by corpus size.
    * Returns (query_id, rank, term, dist, df) ordered (query_id, rank).
    */
  def suggestMany(probes: Seq[(Int, String)], n: Int,
      maxDist: Int = 2): DataFrame = {
    require(maxDist >= 0 && maxDist <= 4, s"maxDist must be in [0,4], got $maxDist")
    val norm = probes.map { case (id, p) => (id, Searcher.oneToken("suggest probe", p)) }
    val empty = spark.emptyDataset[(Int, Int, String, Int, Long)]
      .toDF("query_id", "rank", "term", "dist", "df")
    if (norm.isEmpty) return empty
    val lenMin = norm.iterator.map(_._2.length).min - maxDist
    val lenMax = norm.iterator.map(_._2.length).max + maxDist
    val pb = spark.sparkContext.broadcast(norm.toArray)
    val mdLocal = maxDist
    val matches = dictDS
      .where(length($"term").between(lenMin, lenMax))
      .select($"term", $"df")
      .as[(String, Long)]
      .flatMap { case (t, df) =>
        pb.value.iterator.flatMap { case (id, q) =>
          val d = Searcher.levDistWithin(t, q, mdLocal)
          if (d >= 0) Iterator.single((id, t, d, df)) else Iterator.empty
        }
      }
      .toDF("query_id", "term", "dist", "df")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id")
      .orderBy($"dist".asc, $"df".desc, $"term".asc)
    matches
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= n)
      .select($"query_id", $"rank", $"term", $"dist", $"df")
      .orderBy($"query_id", $"rank")
  }

  /** Unified BOOLEAN query (the Lucene-style MUST / SHOULD / MUST_NOT /
    * PHRASE composition, single operator): top-k over documents that
    * contain EVERY `must` term, the verbatim `phrase` (if given), and NO
    * `mustNot` term, scored with the identical sorted-term BM25 left
    * fold over the distinct union of must + should + phrase terms
    * (minus negated ones) — so a bool query's score for a doc equals the
    * plain disjunctive score over its effective term set, and every
    * clause combination stays rank-comparable.
    *
    * Clause resolution (documented contract, mirrored by the SQL twin):
    *   - MUST(t) ∧ MUST_NOT(t), or a negated phrase term → unsatisfiable,
    *     dead at planning (zero jobs);
    *   - MUST_NOT(t) removes t from SHOULD scoring (negation wins —
    *     every doc containing t is excluded, so dropping it changes no
    *     surviving score);
    *   - a dictionary-absent MUST or phrase term → dead at planning;
    *     absent SHOULD terms just drop out;
    *   - phrase terms score as ordinary bag-of-words terms (the phrase
    *     gate is containment; occurrence count does not boost).
    *
    * Plan shape: ONE pruned dictionary read plans everything; candidate
    * buckets = the INTERSECTION of the gate terms' (must + phrase)
    * bucket lists; per-bucket postings point reads (the positions sidecar when
    * a phrase gate is present — presence, tf AND adjacency all come from
    * it, the corpus text is never read); per bucket, the gate doc sets
    * are intersected sorted arrays, negated postings decode into a
    * bucket-local exclusion, and survivors get the exact sorted-term
    * fold + per-bucket top-k ([[Searcher.boolBucket]]). Gating is
    * bucket-decidable because a doc's postings live entirely in one
    * bucket. With no must/phrase gate the
    * query IS AND-NOT disjunctive search and delegates to [[search]].
    */
  def searchBool(k: Int, must: String = "", should: String = "",
      mustNot: String = "", phrase: String = ""): DataFrame = {
    val negTerms = Tokenizer.tokenize(mustNot).distinct.sorted
    val mustTerms = Tokenizer.tokenize(must).distinct.sorted
    val shouldTerms = Tokenizer.tokenize(should).distinct.sorted
    val phraseToks = Tokenizer.tokenize(phrase)
    require(mustTerms.nonEmpty || shouldTerms.nonEmpty || phraseToks.nonEmpty,
      "bool query needs at least one of must / should / phrase")
    if (mustTerms.exists(negTerms.contains) || phraseToks.exists(negTerms.contains))
      return noHits
    val scoring: Array[String] = (mustTerms ++ shouldTerms ++ phraseToks)
      .distinct.sorted.filterNot(negTerms.contains)
    if (mustTerms.isEmpty && phraseToks.isEmpty)
      return search(scoring.mkString(" "), k, negQuery = negTerms.mkString(" "))
    if (phraseToks.nonEmpty) requirePositions()
    val p = plan(scoring ++ negTerms)
    val gateTerms = (mustTerms ++ phraseToks).distinct
    if (!gateTerms.forall(p.live)) return noHits
    val liveScoring = scoring.filter(p.live)
    val idfByTerm = p.idfByTerm(liveScoring)
    val buckets = p.candidates(gateTerms, gateTerms.length)
    if (buckets.isEmpty) return noHits
    val negLive = negTerms.filter(p.posts)
    val avgdl = p.g.avgdl
    val hits =
      if (phraseToks.isEmpty) {
        val scanTerms = (liveScoring ++ negLive).distinct
        perBucket(segments, Searcher.bucketTerms(p.local, scanTerms, buckets)) { (_, rows, dl) =>
          Searcher.boolBucket(Searcher.decoder(rows), mustTerms, None, negLive, liveScoring,
            idfByTerm, dl, avgdl, k)
        }
      } else {
        val scanTerms = (liveScoring ++ mustTerms ++ negLive ++ phraseToks).distinct
        perBucket(positions, Searcher.bucketTerms(p.local, scanTerms, buckets)) { (_, rows, dl) =>
          val byTerm = Searcher.decodePositions(rows)
          val phraseDocs = Searcher.phraseHitsInBucket(phraseToks, byTerm).map(_._1).toArray
          java.util.Arrays.sort(phraseDocs)
          // a positional row's tf is its position count
          Searcher.boolBucket(t => byTerm.get(t).map(pp =>
            graft.codec.Postings(pp.docIds, pp.positions.map(_.length))),
            mustTerms, Some(phraseDocs), negLive, liveScoring, idfByTerm, dl, avgdl, k)
        }
      }
    Searcher.topK(hits.toDF("doc_id", "score"), k)
  }

  /** Batch search: all queries answered in ONE distributed pass — the
    * per-row task fan-out of the reference's batched `search_many`
    * (/root/reference/python/lib.cpp:416-461, executor.dynamic), rendered
    * as: one task per bucket any query term is listed in, point-reading
    * those terms' postings and scoring every query term-at-a-time, then a
    * bounded global top-k per query. Returns (query_id, doc_id, score)
    * ordered within each query by (score desc, doc_id asc), exactly what
    * per-query [[search]] gives.
    */
  def searchMany(
      queries: Seq[(Int, String)],
      k: Int,
      counters: Option[SearchCounters] = None,
      taatBudgetBytes: Long = Searcher.DefaultTaatBudgetBytes,
      allow: Option[Long => Boolean] = None): DataFrame =
    Searcher.finishMany(
      searchManyBuckets(queries, k, None, counters, taatBudgetBytes, allow), k)

  /** Per-bucket partial results of a batched search: (query_id, doc_id,
    * score), each bucket's top-k per query, NOT yet globally merged.
    * Exposed so [[MultiSearcher.searchMany]] can union the partials of
    * several generations (each scored with injected global stats) and run
    * ONE global merge — the batched scatter-gather.
    */
  private[index] def searchManyBuckets(
      queries: Seq[(Int, String)],
      k: Int,
      shard: Option[Searcher.Plan] = None,
      counters: Option[SearchCounters] = None,
      taatBudgetBytes: Long = Searcher.DefaultTaatBudgetBytes,
      allow: Option[Long => Boolean] = None): DataFrame = {
    val qTerms = queries.map { case (id, q) => (id, Tokenizer.tokenize(q).distinct.sorted) }
    val p = plan(qTerms.flatMap(_._2), shard)
    val qs = qTerms.map { case (id, ts) => (id, ts.filter(p.live)) }.filter(_._2.nonEmpty).toArray
    if (qs.isEmpty) return noPartials
    val liveTerms = qs.flatMap(_._2).distinct.sorted
    val idfByTerm = p.idfByTerm(liveTerms)
    val (avgdl, ubScale) = (p.g.avgdl, p.ubScale)
    val countersLocal = counters.orNull
    val allowB = broadcastAllow(allow)

    perBucket(segments, Searcher.bucketTerms(p.local, liveTerms)) { (_, posts, dl) =>
      // term-at-a-time: decode each term once per bucket task AND
      // traverse it once for the whole batch (see Searcher.taatBucket
      // — bit-identical to the per-query WAND loop, EngineSpec-pinned)
      val cache = new java.util.HashMap[String, graft.codec.Postings]()
      Searcher.taatBucket(posts, dl, idfByTerm, avgdl, k, qs, cache,
        taatBudgetBytes, ubScale, countersLocal, allowB.map(_.value))
    }.toDF("query_id", "doc_id", "score")
  }
}

object Searcher {

  /** One bucket's positional rows decoded by term (one row per term:
    * [[readBucket]] checks it).
    */
  private[index] def decodePositions(rows: Array[PosRow]): Map[String, graft.codec.PosPostings] =
    rows.iterator.map(r =>
      r.term -> graft.codec.PositionCodec.decodeBlocks(r.blocks.map(_.bytes).toSeq)).toMap

  /** Point-read rows of the dictionary and doclens tables. */
  private[index] def dictRow(r: PointRow): DictRow =
    DictRow(r("term"), r("df"), r("maxTfNorm"), r("buckets"))
  private[index] def docLenRow(r: PointRow): DocLenRow =
    DocLenRow(r("bucket"), r("docIds"), r("lens"))

  /** A `partitionBy("bucket")` index table (segments or positions) and
    * its point-read row; the partition column is not in the files, so
    * the reader of a bucket directory supplies `bucket`.
    */
  private[index] final case class BucketTable[R](
      name: String, dir: String, row: (Int, PointRow) => R)

  private[index] def postingRow(bucket: Int, r: PointRow): PostingRow =
    PostingRow(r("term"), bucket, r("df"), r("maxTfNorm"), r[Array[PointRow]]("blocks")
      .map(b => EncBlock(b("first"), b("last"), b("count"), b("maxTfNorm"), b("bytes"))))
  private[index] def posRow(bucket: Int, r: PointRow): PosRow =
    PosRow(r("term"), bucket, r("df"), r[Array[PointRow]]("blocks")
      .map(b => PosBlock(b("first"), b("last"), b("count"), b("bytes"))))

  /** A query plan ([[Searcher.plan]]): the terms it `read`, their
    * dictionary rows in this index, the statistics `g` they score with,
    * and the rules every scoring mode plans by.
    */
  private[index] final case class Plan(read: Set[String], local: Map[String, DictRow],
      g: GlobalStats, localAvgdl: Double) {
    /** The term has postings in this index. */
    def posts(t: String): Boolean = local.get(t).exists(_.df > 0L)

    /** The term scores here: it posts in this index and is globally live
      * (a globally-known term without local postings adds exactly nothing
      * here — the generations holding it score it).
      */
    def live(t: String): Boolean = posts(t) && g.dfByTerm.getOrElse(t, 0L) > 0L

    /** The idf of a term group — one term, or a synonym group whose df′
      * is the MAX member df.
      */
    def idf(group: Seq[String]): Double = Bm25.idf(group.iterator.map(g.dfByTerm).max, g.nDocs)

    def idfByTerm(terms: collection.Seq[String]): Map[String, Double] =
      terms.iterator.map(t => t -> idf(Seq(t))).toMap

    /** Stored block-max tf-norms were computed with THIS index's avgdl; a
      * larger global avgdl raises tfNorm by at most avgdl_new/avgdl_old —
      * scaling the UBs keeps WAND pruning sound (never under-estimates).
      */
    def ubScale: Double = math.max(1.0, g.avgdl / localAvgdl)

    /** The candidate buckets of a query with live terms `ts`: those where
      * at least `m` of them post (m = 1 is the union of their bucket
      * lists, m = ts.length the intersection) — a doc elsewhere cannot
      * hold m of them.
      */
    def candidates(ts: collection.Seq[String], m: Int): Set[Int] =
      ts.flatMap(t => local(t).buckets).groupMapReduce(identity)(_ => 1)(_ + _)
        .collect { case (b, c) if c >= m => b }.toSet
  }

  /** A conjunctive batch as minimum-should-match at m = n, each query's
    * distinct-token count; a token-less query matches nothing and drops.
    */
  private[index] def conjunctive(queries: Seq[(Int, String)]): Seq[(Int, String, Int)] =
    queries.map { case (id, q) => (id, q, Tokenizer.tokenize(q).distinct.length) }
      .filter(_._3 > 0)

  /** For each bucket the dictionary lists one of `terms` in (and `keep`
    * accepts), the terms it lists there.
    */
  private[index] def bucketTerms(dict: Map[String, DictRow], terms: collection.Seq[String],
      keep: Int => Boolean = _ => true): Map[Int, Seq[String]] =
    terms.distinct.toSeq
      .flatMap(t => dict.get(t).toSeq.flatMap(_.buckets.iterator.filter(keep).map(_ -> t)))
      .groupMap(_._1)(_._2)

  /** The rows of `terms` in one bucket directory of `table`. A term the
    * dictionary lists in the bucket must hold exactly one row there: a
    * lost or duplicated data file fails loudly instead of shortening or
    * doubling results.
    */
  private[index] def readBucket[R: ClassTag](table: BucketTable[R],
      reader: ParquetPointReader[String], bucket: Int, terms: Seq[String],
      root: String): Array[R] = {
    val got = reader.read(terms)(r => (r[String]("term"), table.row(bucket, r)))
    val rows = got.groupMapReduce(_._1)(_ => 1)(_ + _)
    terms.foreach { t =>
      val n = rows.getOrElse(t, 0)
      if (n != 1)
        throw new IllegalStateException(s"index invariant violated: dictionary lists term $t " +
          s"in bucket $bucket but ${table.name} hold $n rows ($root)")
    }
    got.iterator.map(_._2).toArray
  }

  /** A touched bucket's norms row. Postings without one are index
    * corruption (e.g. a bucketSize mismatch from a bad resume): fail
    * loudly instead of dropping the bucket's hits.
    */
  private[index] def bucketNorms(bucket: Int, row: Option[DocLenRow], root: String): DocLenRow =
    row.getOrElse(throw new IllegalStateException(s"index invariant violated: bucket $bucket " +
      s"has postings but no doclens row ($root)"))

  /** The least string above every string that starts with a non-empty
    * `prefix`: its last char incremented. Terms are ASCII [a-z0-9]
    * ([[Tokenizer]]), where char order is Parquet's UTF-8 byte order; a
    * head with any other char matches no term, whatever the bound.
    */
  private[index] def prefixEnd(prefix: String): Option[String] =
    Option.when(prefix.nonEmpty)(prefix.init + (prefix.last + 1).toChar)

  private[index] def tooWide(what: String, maxExpansion: Int) = new IllegalArgumentException(
    s"$what expands to more than $maxExpansion terms — narrow it or raise maxExpansion")

  /** The one token `s` (named `what` in the error) normalizes to. */
  private[index] def oneToken(what: String, s: String): String = {
    val toks = Tokenizer.tokenize(s)
    require(toks.length == 1, s"$what must normalize to exactly one token, got '$s'")
    toks.head
  }

  /** A fuzzy probe's one token, with its edit distance checked. */
  private[index] def fuzzyProbe(probe: String, maxDist: Int): String = {
    val q = oneToken("fuzzy probe", probe)
    require(maxDist >= 0 && maxDist <= 4, s"maxDist must be in [0,4], got $maxDist")
    q
  }

  /** Bounded Levenshtein distance: the exact edit distance if ≤ maxDist,
    * else -1 — the textbook two-row DP with the standard band cutoff,
    * semantically identical to Spark's and DuckDB's thresholded
    * `levenshtein`.
    */
  private[graft] def levDistWithin(a: String, b: String, maxDist: Int): Int = {
    if (math.abs(a.length - b.length) > maxDist) return -1
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var rowMin = i
      var j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        if (cur(j) < rowMin) rowMin = cur(j)
        j += 1
      }
      if (rowMin > maxDist) return -1
      val t = prev; prev = cur; cur = t
      i += 1
    }
    if (prev(b.length) <= maxDist) prev(b.length) else -1
  }

  private[graft] def levWithin(a: String, b: String, maxDist: Int): Boolean =
    levDistWithin(a, b, maxDist) >= 0

  /** Intersection of ascending docId arrays: each doc of the sparsest
    * array is probed in the others by binary search, from where the
    * previous probe stopped. Empty input → empty.
    */
  private[index] def intersectSorted(arrays: Seq[Array[Long]]): Array[Long] = {
    if (arrays.isEmpty) return Array.emptyLongArray
    val sorted = arrays.sortBy(_.length).toArray
    val from = new Array[Int](sorted.length)
    val out = Array.newBuilder[Long]
    sorted.head.foreach { d =>
      var ok = true
      var j = 1
      while (ok && j < sorted.length) {
        val a = sorted(j)
        val at = java.util.Arrays.binarySearch(a, from(j), a.length, d)
        if (at >= 0) from(j) = at + 1 else { from(j) = -at - 1; ok = false }
        j += 1
      }
      if (ok) out += d
    }
    out.result()
  }

  /** Ascending concatenation of sorted docId arrays for binary-search
    * membership (duplicates are harmless to `binarySearch >= 0`).
    */
  private[index] def concatSorted(arrays: Seq[Array[Long]]): Array[Long] = {
    val total = arrays.iterator.map(_.length).sum
    val out = new Array[Long](total)
    var o = 0
    arrays.foreach { a => System.arraycopy(a, 0, out, o, a.length); o += a.length }
    java.util.Arrays.sort(out)
    out
  }

  /** The distinct docIds found in at least `m` of the ascending arrays,
    * ascending: the union at m = 1, the minimum-should-match gate at
    * m > 1, and at m = arrays.length the intersection, probed from the
    * sparsest array ([[intersectSorted]]).
    */
  private[index] def atLeast(arrays: Seq[Array[Long]], m: Int): Array[Long] = {
    if (m == arrays.length) return intersectSorted(arrays)
    val all = concatSorted(arrays)
    val out = Array.newBuilder[Long]
    var i = 0
    while (i < all.length) {
      var j = i + 1
      while (j < all.length && all(j) == all(i)) j += 1
      if (j - i >= m) out += all(i)
      i = j
    }
    out.result()
  }

  /** One bucket's posting rows by term, each decoded on first use (a
    * term without a row in the bucket → None).
    */
  private[index] def decoder(rows: Array[PostingRow]): String => Option[graft.codec.Postings] = {
    val byTerm = rows.iterator.map(r => r.term -> r).toMap
    val decoded = new java.util.HashMap[String, graft.codec.Postings]()
    t => byTerm.get(t).map(r =>
      decoded.computeIfAbsent(t, _ => PostingCodec.decodeBlocks(r.blocks.map(_.bytes).toSeq)))
  }

  /** The index in `doclen` of a doc that has postings in its bucket. A
    * doc missing from its bucket's norms row is index corruption: fail
    * loudly, naming the doc and bucket.
    */
  private[index] def docIndex(doclen: DocLenRow, docId: Long, from: Int = 0): Int = {
    val i = java.util.Arrays.binarySearch(doclen.docIds, from, doclen.docIds.length, docId)
    if (i < 0)
      throw new IllegalStateException(s"index invariant violated: doc $docId has postings " +
        s"but no doclens entry (bucket ${doclen.bucket})")
    i
  }

  /** The length of a doc that has postings in `doclen`'s bucket. */
  private[index] def docLen(doclen: DocLenRow, docId: Long): Long =
    doclen.lens(docIndex(doclen, docId))

  /** The exact scorer of every gated mode (conjunctive, minimum-should-
    * match, bool, synonym, boosted, dis-max): the filter → verify split,
    * where the caller's gate picks the ascending `candidates` and this
    * fold verifies them. Each candidate not in `excluded` (sorted) scores
    * the left fold, in the caller's group order, of
    * `ws(g) · (idfs(g) · tfNorm(tf, dl))` (ws null: all 1.0) over the
    * groups holding it. A group's tf is the sum of its members' tfs
    * (integer adds, order-free; an empty group has no postings in this
    * bucket). `1.0 · x == x` in IEEE arithmetic, so a unit-weight fold
    * has the exact bits of [[wandBucket]]'s and [[taatBucket]]'s
    * sorted-term sums. With a
    * dis-max `tie` the score is best + tie · (sum − best), three IEEE ops
    * in that association (BM25 parts are > 0, so the 0.0 floor of `best`
    * never wins for a matched doc). No pruning: the gate already cuts the
    * candidates, and exactness keeps the fold trivially bit-stable.
    */
  private[index] def foldBucket(
      candidates: Array[Long],
      excluded: Array[Long],
      groups: Array[Array[graft.codec.Postings]],
      idfs: Array[Double],
      doclen: DocLenRow,
      avgdl: Double,
      k: Int,
      ws: Array[Double] = null,
      disMaxTie: Option[Double] = None): Iterator[Hit] = {
    // per-member probe starts: candidates ascend, so each member's
    // binary search resumes where the previous candidate's stopped
    val from = groups.map(g => new Array[Int](g.length))
    val tie = disMaxTie.getOrElse(1.0)
    val topk = new TopK(k)
    candidates.foreach { id =>
      if (java.util.Arrays.binarySearch(excluded, id) < 0) {
        val dl = docLen(doclen, id)
        var s = 0.0
        var best = 0.0
        var g = 0
        while (g < groups.length) {
          var tf = 0
          var m = 0
          while (m < groups(g).length) {
            val ids = groups(g)(m).docIds
            val at = java.util.Arrays.binarySearch(ids, from(g)(m), ids.length, id)
            if (at >= 0) { tf += groups(g)(m).tfs(at); from(g)(m) = at + 1 }
            else from(g)(m) = -at - 1
            m += 1
          }
          if (tf > 0) {
            val w = if (ws == null) 1.0 else ws(g)
            val part = w * (idfs(g) * Bm25.tfNorm(tf, dl, avgdl))
            s += part
            if (part > best) best = part
          }
          g += 1
        }
        topk.offer(id, if (disMaxTie.isDefined) best + tie * (s - best) else s)
      }
    }
    topk.result
  }

  /** The bool gate of one bucket ([[Searcher.searchBool]]): docs holding
    * every `must` term (and the phrase, when `phraseDocs` is given),
    * minus the docs of the `neg` terms, folded over `scoring` with unit
    * weights.
    */
  private[index] def boolBucket(
      post: String => Option[graft.codec.Postings],
      must: Array[String],
      phraseDocs: Option[Array[Long]],
      neg: Array[String],
      scoring: Array[String],
      idfByTerm: Map[String, Double],
      doclen: DocLenRow,
      avgdl: Double,
      k: Int): Iterator[Hit] = {
    val mustPosts = must.flatMap(post)
    if (mustPosts.length < must.length) return Iterator.empty
    foldBucket(intersectSorted(phraseDocs.toSeq ++ mustPosts.map(_.docIds)),
      concatSorted(neg.flatMap(post).map(_.docIds).toSeq),
      scoring.map(t => post(t).toArray), scoring.map(idfByTerm), doclen, avgdl, k)
  }

  /** Verify a phrase inside one bucket given decoded positional postings.
    * Emits (docId, occurrence count > 0) in ascending docId order of the
    * DRIVING term's list — re-sorted by the caller's orderBy, so the
    * driving-term choice (bucket-sparsest, a pure function of the data)
    * cannot affect results. Each occurrence = a start position p with
    * term k at p+k for every k (overlaps count; duplicate phrase terms
    * are just two offsets into the same positions array).
    */
  private[index] def phraseHitsInBucket(
      ts: Array[String],
      byTerm: Map[String, graft.codec.PosPostings]): Iterator[(Long, Long)] = {
    val distinctTs = ts.distinct
    if (!distinctTs.forall(byTerm.contains)) return Iterator.empty
    val maps: Map[String, java.util.HashMap[Long, Array[Int]]] =
      distinctTs.iterator.map { t =>
        val pp = byTerm(t)
        val m = new java.util.HashMap[Long, Array[Int]](pp.size * 2)
        var i = 0
        while (i < pp.size) { m.put(pp.docIds(i), pp.positions(i)); i += 1 }
        t -> m
      }.toMap
    val lead = byTerm(distinctTs.minBy(t => byTerm(t).size))
    val others = distinctTs.map(maps)
    val first = maps(ts(0))
    Iterator.range(0, lead.size).flatMap { i =>
      val docId = lead.docIds(i)
      if (!others.forall(_.containsKey(docId))) Iterator.empty
      else {
        val starts = first.get(docId)
        var n = 0L
        var j = 0
        while (j < starts.length) {
          val p = starts(j)
          var k = 1
          var ok = true
          while (ok && k < ts.length) {
            if (java.util.Arrays.binarySearch(maps(ts(k)).get(docId), p + k) < 0) ok = false
            k += 1
          }
          if (ok) n += 1L
          j += 1
        }
        if (n > 0L) Iterator.single((docId, n)) else Iterator.empty
      }
    }
  }

  /** Minimal-window proximity verify inside one bucket given decoded
    * positional postings: for each doc containing every distinct term,
    * the minimal span of a token window covering all of them and the
    * leftmost start achieving it — emitted only when min_span ≤ window.
    *
    * Per doc this is the classic k-sorted-lists sweep: all positions
    * strictly below the current minimum have been consumed, so when the
    * minimum is p every other pointer sits at its list's first position
    * ≥ p — the window [p, max(heads)] is exactly the tightest window
    * whose minimum is p. Sweeping all p and taking the lexicographic min
    * of (span, start) therefore equals the min over ALL m-tuples of
    * (max − min + 1, min) — the oracle's cross-join definition.
    * O(total positions · m) per doc, integers only.
    */
  private[index] def proximityHitsInBucket(
      ts: Array[String],
      window: Int,
      byTerm: Map[String, graft.codec.PosPostings],
      only: java.util.HashSet[Long] = null): Iterator[(Long, Long, Long)] = {
    if (!ts.forall(byTerm.contains)) return Iterator.empty
    val m = ts.length
    val maps: Array[java.util.HashMap[Long, Array[Int]]] = ts.map { t =>
      val pp = byTerm(t)
      val h = new java.util.HashMap[Long, Array[Int]](pp.size * 2)
      var i = 0
      while (i < pp.size) { h.put(pp.docIds(i), pp.positions(i)); i += 1 }
      h
    }
    val lead = byTerm(ts.minBy(t => byTerm(t).size))
    Iterator.range(0, lead.size).flatMap { i =>
      val docId = lead.docIds(i)
      var all = only == null || only.contains(docId)
      var t = 0
      while (all && t < m) { if (!maps(t).containsKey(docId)) all = false; t += 1 }
      if (!all) Iterator.empty
      else {
        val lists: Array[Array[Int]] = Array.tabulate(m)(j => maps(j).get(docId))
        val ptr = new Array[Int](m)
        var bestSpan = Long.MaxValue
        var bestStart = Long.MaxValue
        var done = false
        while (!done) {
          var mn = Int.MaxValue
          var mx = Int.MinValue
          var argmin = -1
          var j = 0
          while (j < m) {
            val p = lists(j)(ptr(j))
            if (p < mn) { mn = p; argmin = j }
            if (p > mx) mx = p
            j += 1
          }
          val span = (mx - mn + 1).toLong
          if (span < bestSpan || (span == bestSpan && mn < bestStart)) {
            bestSpan = span; bestStart = mn.toLong
          }
          ptr(argmin) += 1
          if (ptr(argmin) >= lists(argmin).length) done = true
        }
        if (bestSpan <= window) Iterator.single((docId, bestSpan, bestStart))
        else Iterator.empty
      }
    }
  }

  /** Minimal ORDERED span inside one bucket given decoded positional
    * postings: for each doc containing every query token, the minimal
    * span of positions p₀ < p₁ < … < p_{m−1} (one per token, in query
    * order) and the leftmost start achieving it — emitted only when
    * min_span ≤ window.
    *
    * Per doc, greedy successor-chaining from each start: picking the
    * SMALLEST admissible position at every level minimizes the chain's
    * end for that start (exchange argument — any valid tuple starting at
    * p₀ has its level-j position ≥ the greedy one, inductively), so
    * (greedySpan(p₀), p₀) minimized over starts equals the lexicographic
    * min of (span, start) over ALL ordered tuples — the oracle's
    * cross-join definition. If the chain dies at some level for p₀ it
    * dies for every larger start (successors only grow), so the start
    * loop breaks early. O(|L₀| · m · log positions) per doc, integers
    * only.
    */
  private[index] def orderedSpanHitsInBucket(
      ts: Array[String],
      window: Int,
      byTerm: Map[String, graft.codec.PosPostings]): Iterator[(Long, Long, Long)] = {
    val distinctTs = ts.distinct
    if (!distinctTs.forall(byTerm.contains)) return Iterator.empty
    val m = ts.length
    val maps: Map[String, java.util.HashMap[Long, Array[Int]]] =
      distinctTs.iterator.map { t =>
        val pp = byTerm(t)
        val h = new java.util.HashMap[Long, Array[Int]](pp.size * 2)
        var i = 0
        while (i < pp.size) { h.put(pp.docIds(i), pp.positions(i)); i += 1 }
        t -> h
      }.toMap
    val lead = byTerm(distinctTs.minBy(t => byTerm(t).size))
    Iterator.range(0, lead.size).flatMap { i =>
      val docId = lead.docIds(i)
      if (!distinctTs.forall(t => maps(t).containsKey(docId))) Iterator.empty
      else {
        val lists: Array[Array[Int]] = Array.tabulate(m)(j => maps(ts(j)).get(docId))
        var bestSpan = Long.MaxValue
        var bestStart = Long.MaxValue
        val starts = lists(0)
        var si = 0
        var dead = false
        while (!dead && si < starts.length) {
          val p0 = starts(si)
          var cur = p0
          var j = 1
          var ok = true
          while (ok && j < m) {
            val l = lists(j)
            // first position strictly greater than cur
            val raw = java.util.Arrays.binarySearch(l, cur + 1)
            val idx = if (raw >= 0) raw else -raw - 1
            if (idx >= l.length) { ok = false; dead = true }
            else { cur = l(idx); j += 1 }
          }
          if (ok) {
            val span = (cur - p0 + 1).toLong
            if (span < bestSpan) { bestSpan = span; bestStart = p0.toLong }
          }
          si += 1
        }
        if (bestSpan <= window) Iterator.single((docId, bestSpan, bestStart))
        else Iterator.empty
      }
    }
  }

  /** Memory budget for one task's dense TAAT accumulator chunk. One
    * accumulator row costs 8·bucketDocs bytes; the default index geometry
    * bounds bucket width at 2²⁰ docs (IndexBuilder.MaxDefaultBucketWidth)
    * → ≤ 8 MB/row, so the budget always fits ≥ 4 query rows. An index
    * with a WIDER pinned bucket (explicit targetBuckets/fixedBucketSize)
    * can exceed the budget even at one row — [[taatBucket]] then falls
    * back to the per-query cursor WAND, which is bit-identical and O(k)
    * in memory.
    */
  final val DefaultTaatBudgetBytes: Long = 32L << 20

  /** Default driver-residency budget for the hot serving path's posting
    * cache (encoded blocks + decoded arrays; see `hotRowCost`). A
    * constructor knob because serving deployments size this to their
    * heap — the EngineSpec eviction case pins that a budget too small to
    * keep any term warm still returns bit-identical results (just
    * re-fetches).
    */
  final val DefaultHotPostingsBudgetBytes: Long = 256L << 20

  /** Global per-query top-k merge of per-bucket partial results via the
    * bounded aggregate (same total order as a row_number window — score
    * desc, doc_id asc — but it PARTIAL-aggregates map-side, so the merge
    * shuffle moves one bounded buffer per (query, partition) and needs no
    * per-partition sort). Shared by single-index and multi-generation
    * batched search.
    */
  private[index] def finishMany(perBucket: DataFrame, k: Int): DataFrame =
    perBucket
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.greatest(col("score"), col("doc_id"), k).as("hits"))
      .select(col("query_id"), posexplode(col("hits")).as(Seq("rnk0", "h")))
      .select(col("query_id"), col("h.id").as("doc_id"), col("h.score").as("score"),
        (col("rnk0") + 1).as("rank"))
      .orderBy(col("query_id"), col("rank"))

  /** The global merge of per-bucket hits, in the (score desc, doc_id
    * asc) total order (Catalyst `TakeOrderedAndProject`: partial top-k
    * in the bucket tasks, final merge on the driver).
    */
  private[index] def topK(hits: DataFrame, k: Int): DataFrame =
    hits.orderBy(desc("score"), asc("doc_id")).limit(k)

  /** The bucket kernel of [[Searcher.search]] and [[Searcher.searchHot]]:
    * the rows of the negated terms decode into a bucket-local exclusion
    * (built where the postings live, so no negated doc id reaches the
    * driver or a broadcast) composed with the caller's `allow`, and the
    * other rows run [[wandBucket]] (over `decoded`, when the caller keeps
    * decoded postings resident). A companion value, so the closure that
    * ships it to a bucket task captures no Searcher.
    */
  private[index] final case class SearchKernel(
      idfByTerm: Map[String, Double],
      neg: Set[String],
      avgdl: Double,
      ubScale: Double,
      k: Int,
      exact: Boolean,
      counters: SearchCounters,
      after: Option[(Double, Long)]) {
    def apply(rows: Array[PostingRow], doclen: DocLenRow, allow: Option[Long => Boolean],
        decoded: java.util.HashMap[String, graft.codec.Postings]): Iterator[Hit] = {
      val (negRows, posRows) = rows.partition(r => neg.contains(r.term))
      val effAllow: Option[Long => Boolean] =
        if (negRows.isEmpty) allow
        else {
          val excluded = concatSorted(negRows.toSeq.map(r =>
            PostingCodec.decodeBlocks(r.blocks.map(_.bytes).toSeq).docIds))
          Some((id: Long) =>
            java.util.Arrays.binarySearch(excluded, id) < 0 && allow.forall(_(id)))
        }
      wandBucket(posRows, doclen, idfByTerm, avgdl, ubScale, k, exact, effAllow, decoded,
        counters, after)
    }
  }

  /** Term-at-a-time batched scorer for one bucket: each decoded posting
    * array is traversed ONCE for every query that contains the term,
    * instead of once per query as the per-query WAND loop does. That cuts
    * the dominant cost of large batches — re-reading shared hot-term
    * posting arrays per query (the measured DRAM-bandwidth plateau in
    * BASELINE.md's query-batch accounting) — to a single pass plus cheap
    * accumulator updates that stay cache-resident.
    *
    * Bit-identity with the per-query WAND path (EngineSpec pins
    * batch ≡ per-query ≡ oracle): terms are visited in globally sorted
    * order, so each (query, doc) accumulator receives exactly the query's
    * own sorted-term contributions in the same left-fold order as
    * [[wandBucket]]'s fixed-cursor-order sum, from the identical
    * `idf · Bm25.tfNorm` arithmetic; the same TopK total order
    * (score desc, docId asc) then yields the same result set.
    *
    * Memory: a dense (chunk × bucketDocs) double matrix, chunked so one
    * task never holds more than `budgetBytes` (default 32 MB) of
    * accumulators no matter how many queries are in the batch; each chunk
    * re-reads the decoded cache (already in memory), not the Parquet
    * blocks. When even ONE accumulator row (8·bucketDocs bytes) exceeds
    * the budget — possible only for indexes with an explicitly pinned
    * oversized bucket width, since the default geometry bounds buckets at
    * 2²⁰ docs — the whole batch falls back to the per-query cursor WAND,
    * which EngineSpec pins as bit-identical and whose memory is O(k)
    * regardless of bucket width (the decode cache still amortizes the
    * block decoding across the query set).
    */
  def taatBucket(
      rows: Array[PostingRow],
      doclen: DocLenRow,
      idfByTerm: Map[String, Double],
      avgdl: Double,
      k: Int,
      queries: Array[(Int, Array[String])],
      decodedCache: java.util.HashMap[String, graft.codec.Postings],
      budgetBytes: Long = DefaultTaatBudgetBytes,
      ubScale: Double = 1.0,
      counters: SearchCounters = null,
      allow: Option[Long => Boolean] = None): Iterator[(Int, Long, Double)] = {
    val dIds = doclen.docIds
    val dLens = doclen.lens
    val nb = dIds.length

    // one row per (term, bucket) is an index invariant — BOTH taat paths
    // (the dense path's `pre` cache and the fallback's byTerm map) and
    // the shared decode cache key by term alone, so a violating merge
    // artifact must fail loudly, not silently keep one arbitrary row
    val byTerm = rows.iterator.map(r => r.term -> r).toMap
    if (byTerm.size != rows.length)
      throw new IllegalStateException(
        "index invariant violated: bucket holds more than one segment row " +
          s"per term (${rows.length} rows, ${byTerm.size} terms)")

    if (8L * math.max(nb, 1) > budgetBytes) {
      // dense accumulation cannot fit one row — per-query WAND fallback
      // (bit-identical results; shared decode cache keeps the batch's
      // decode-once property)
      return queries.iterator.flatMap { case (qid, ts) =>
        val qRows = ts.flatMap(byTerm.get)
        if (qRows.isEmpty) Iterator.empty
        else wandBucket(qRows, doclen, idfByTerm, avgdl, ubScale, k,
          exact = false, allow, decodedCache, counters)
          .map(h => (qid, h.docId, h.score))
      }
    }

    val rowsSorted = rows.sortBy(_.term)
    // term → subscribing query positions (ascending, queries scanned in
    // order), materialized once as arrays — the chunk loop only filters
    var maxSub = 0
    val subs: java.util.HashMap[String, Array[Int]] = {
      val b = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
      var qi = 0
      while (qi < queries.length) {
        val ts = queries(qi)._2
        var t = 0
        while (t < ts.length) {
          b.getOrElseUpdate(ts(t), mutable.ArrayBuffer.empty) += qi
          t += 1
        }
        qi += 1
      }
      val m = new java.util.HashMap[String, Array[Int]]()
      b.foreach { case (t, l) =>
        if (l.length > maxSub) maxSub = l.length
        m.put(t, l.toArray)
      }
      m
    }
    val chunk = math.max(1,
      math.min(queries.length, (budgetBytes / (8L * math.max(nb, 1))).toInt))
    // one scratch buffer for the per-chunk subscriber filter, reused
    // across every (term × chunk) iteration — no hot-loop allocation
    val scratch = new Array[Int](maxSub)
    // per-term (bucket doc index, idf·tfNorm) arrays, computed ONCE per
    // bucket task and reused by every chunk and every subscribing query
    // — the binary search exploits that posting docIds and the bucket's
    // doclen docIds are both ascending
    val pre = new java.util.HashMap[String, (Array[Int], Array[Double])]()
    def preFor(r: PostingRow): (Array[Int], Array[Double]) =
      pre.computeIfAbsent(r.term, _ => {
        val post = decodedCache.computeIfAbsent(r.term,
          _ => PostingCodec.decodeBlocks(r.blocks.map(_.bytes).toSeq))
        val idf = idfByTerm(r.term)
        val pd = post.docIds
        val pt = post.tfs
        val di = new Array[Int](pd.length)
        val w = new Array[Double](pd.length)
        var p = 0
        var from = 0
        while (p < pd.length) {
          val d = docIndex(doclen, pd(p), from)
          di(p) = d
          from = d + 1
          w(p) = idf * Bm25.tfNorm(pt(p), dLens(d), avgdl)
          p += 1
        }
        (di, w)
      })
    var visited = 0L
    var scored = 0L
    val out = mutable.ArrayBuffer.empty[(Int, Long, Double)]
    var q0 = 0
    while (q0 < queries.length) {
      val q1 = math.min(queries.length, q0 + chunk)
      val acc = Array.ofDim[Double](q1 - q0, nb)
      var ri = 0
      while (ri < rowsSorted.length) {
        val r = rowsSorted(ri)
        val subList = subs.get(r.term)
        if (subList != null) {
          var nSub = 0
          var s = 0
          while (s < subList.length) {
            val q = subList(s)
            if (q >= q0 && q < q1) { scratch(nSub) = q - q0; nSub += 1 }
            s += 1
          }
          if (nSub > 0) {
            val (pdi, pw) = preFor(r)
            // postings stream inner (ascending doc index → sequential
            // writes into one accumulator row); swapping the loops does
            // not reorder any (query, doc) fold — each term contributes
            // once per doc, and terms stay in global sorted order
            var j = 0
            while (j < nSub) {
              val row = acc(scratch(j))
              var p = 0
              while (p < pdi.length) { row(pdi(p)) += pw(p); p += 1 }
              j += 1
            }
            visited += pdi.length.toLong * nSub
          }
        }
        ri += 1
      }
      // `filtered_search` in batch mode: the predicate gates the top-k
      // OFFER (ranks come from the filtered set), identical to the WAND
      // path's during-scoring check — accumulation itself is unchanged
      val allowF: Long => Boolean = allow.orNull
      var q = q0
      while (q < q1) {
        val a = acc(q - q0)
        val topk = new TopK(k)
        var di = 0
        while (di < nb) {
          // BM25 contributions are strictly positive (idf > 0, tf ≥ 1),
          // so 0.0 means "no query term matched this doc"
          if (a(di) > 0.0 && (allowF == null || allowF(dIds(di)))) {
            topk.offer(dIds(di), a(di)); scored += 1
          }
          di += 1
        }
        topk.result.foreach(h => out += ((queries(q)._1, h.docId, h.score)))
        q += 1
      }
      q0 = q1
    }
    if (counters != null) {
      counters.visitedDocs.add(visited)
      counters.scoredDocs.add(scored)
    }
    out.iterator
  }

  /** Cursor over one term's postings within a bucket. Two backing modes
    * with identical visit semantics (so results are bit-identical):
    * lazily-decoded blocks (single query — skipped blocks are never
    * decoded) or a pre-decoded array shared across queries (batch mode —
    * decode cost amortized over the whole query set).
    */
  private final class Cursor(
      val term: String,
      val idf: Double,
      ubScale: Double,
      maxTfNorm: Double,
      blocks: Array[EncBlock],
      pre: graft.codec.Postings) {
    val ub: Double = idf * maxTfNorm * ubScale // bucket-local term UB
    private val idfScaled = idf * ubScale

    /** Upper bound of this term's contribution for the CURRENT doc: the
      * 128-posting block's max tf-norm (block mode) or the row max
      * (pre-decoded mode — looser but still sound).
      */
    def curBlockUb: Double =
      if (pre != null || exhausted) ub
      else idfScaled * blocks(blockIdx).maxTfNorm
    private var decoded: graft.codec.Postings = pre
    private var blockIdx = 0
    private var pos = 0
    var curDoc: Long = -1L
    var curTf: Int = 0
    var exhausted: Boolean =
      if (pre != null) pre.size == 0 else blocks.isEmpty
    if (!exhausted) { if (pre == null) loadBlock() else pos = -1; advancePos() }

    private def loadBlock(): Unit = {
      decoded = PostingCodec.decodeBlock(blocks(blockIdx).bytes)
      pos = -1
    }

    private def advancePos(): Unit = {
      pos += 1
      if (pos >= decoded.size) {
        if (pre != null) { exhausted = true; curDoc = Long.MaxValue }
        else {
          blockIdx += 1
          if (blockIdx >= blocks.length) { exhausted = true; curDoc = Long.MaxValue }
          else { loadBlock(); advancePos() }
        }
      } else {
        curDoc = decoded.docIds(pos)
        curTf = decoded.tfs(pos)
      }
    }

    def next(): Unit = if (!exhausted) advancePos()

    /** Seek to the first posting with docId >= target. Block mode skips
      * whole blocks via their [first,last] bounds (skipped varbyte blocks
      * are never decoded); pre-decoded mode binary-searches.
      */
    def seek(target: Long): Unit = {
      if (exhausted || curDoc >= target) return
      if (pre != null) {
        val i = java.util.Arrays.binarySearch(decoded.docIds, pos + 1, decoded.size, target)
        pos = (if (i >= 0) i else -i - 1) - 1
        advancePos()
        return
      }
      while (blockIdx < blocks.length && blocks(blockIdx).last < target) {
        blockIdx += 1
        pos = -1
        decoded = null
      }
      if (blockIdx >= blocks.length) { exhausted = true; curDoc = Long.MaxValue; return }
      if (decoded == null) loadBlock()
      if (pos < 0) advancePos()
      while (!exhausted && curDoc < target) advancePos()
    }
  }

  /** Bounded top-k buffer ordered (score desc, docId asc) — the
    * `sorted_buffer_gt` analog
    * (/root/reference/include/usearch/index.hpp:842-967).
    */
  private final class TopK(k: Int) {
    private val ord: Ordering[Hit] = Ordering.by(h => (-h.score, h.docId))
    // max-heap on the ordering's "worst" element: keep the k best
    private val heap = new mutable.PriorityQueue[Hit]()(ord)
    def threshold: Double = if (heap.size < k) Double.NegativeInfinity else heap.head.score
    def offer(docId: Long, score: Double): Unit = {
      val h = Hit(docId, score)
      if (heap.size < k) heap.enqueue(h)
      else if (ord.lt(h, heap.head)) { heap.dequeue(); heap.enqueue(h) }
    }
    def result: Iterator[Hit] = heap.iterator
  }

  /** Doc-at-a-time WAND over one bucket. Deterministic: scoring sums terms
    * in sorted-term order; skipping uses `Σ UB >= θ` (not `>`), so a doc
    * whose score ties θ is always scored and the (score desc, docId asc)
    * tiebreak stays exact.
    */
  def wandBucket(
      rows: Array[PostingRow],
      doclen: DocLenRow,
      idfByTerm: Map[String, Double],
      avgdl: Double,
      ubScale: Double,
      k: Int,
      exact: Boolean,
      allow: Option[Long => Boolean],
      decodedCache: java.util.HashMap[String, graft.codec.Postings] = null,
      counters: SearchCounters = null,
      after: Option[(Double, Long)] = None): Iterator[Hit] = {
    // cursors in fixed sorted-term order → deterministic accumulation
    val byTerm = rows.sortBy(_.term)
    val cursors = byTerm.map { r =>
      val pre =
        if (decodedCache == null) null
        else decodedCache.computeIfAbsent(r.term,
          _ => PostingCodec.decodeBlocks(r.blocks.map(_.bytes).toSeq))
      new Cursor(r.term, idfByTerm(r.term), ubScale, r.maxTfNorm, r.blocks, pre)
    }
    if (cursors.isEmpty) return Iterator.empty

    val topk = new TopK(k)
    val live = mutable.ArrayBuffer(cursors: _*)
    // per-task counters flushed to the accumulators once at the end —
    // zero overhead in the hot loop beyond two register increments
    var visited = 0L
    var scored = 0L

    while (live.nonEmpty) {
      live.filterInPlace(!_.exhausted)
      if (live.nonEmpty) {
        val sorted = live.sortBy(_.curDoc)
        val theta = if (exact) Double.NegativeInfinity else topk.threshold
        // pivot: smallest prefix whose Σ UB could reach θ (>= keeps ties)
        var acc = 0.0
        var pivot = -1
        var i = 0
        while (pivot < 0 && i < sorted.length) {
          acc += sorted(i).ub
          if (acc >= theta) pivot = i
          i += 1
        }
        if (pivot < 0) {
          live.clear() // nothing remaining can enter the top-k
        } else {
          val pivotDoc = sorted(pivot).curDoc
          if (sorted.head.curDoc == pivotDoc) {
            visited += 1
            // block-max refinement (BMW): the sum of current-BLOCK maxima
            // over the cursors on pivotDoc is a tighter bound than the
            // term UBs that chose the pivot; skip scoring when it is
            // STRICTLY below θ (score ≤ bound < θ can never tie, so the
            // (score desc, docId asc) result set is unchanged)
            var blockBound = 0.0
            if (!exact) {
              var c = 0
              while (c < cursors.length) {
                val cur = cursors(c)
                if (!cur.exhausted && cur.curDoc == pivotDoc) blockBound += cur.curBlockUb
                c += 1
              }
            }
            if ((exact || blockBound >= theta) && allow.forall(_(pivotDoc))) {
              scored += 1
              val dl = docLen(doclen, pivotDoc)
              var s = 0.0
              // fixed term order: `cursors` (sorted by term), not `sorted`
              var c = 0
              while (c < cursors.length) {
                val cur = cursors(c)
                if (!cur.exhausted && cur.curDoc == pivotDoc)
                  s += cur.idf * Bm25.tfNorm(cur.curTf, dl, avgdl)
                c += 1
              }
              // search-after cursor: only docs STRICTLY after (afterScore,
              // afterId) in the (score desc, docId asc) total order enter
              // the heap, so θ tracks the k-th best of THIS page — scores
              // are bit-identical doubles everywhere, so the equality arm
              // of the tiebreak is exact, and pruning stays sound because
              // a doc with UB < θ can't beat the page's k-th qualifier
              val qualifies = after.forall { case (as, ai) =>
                s < as || (s == as && pivotDoc > ai)
              }
              if (qualifies) topk.offer(pivotDoc, s)
            }
            var c = 0
            while (c < cursors.length) {
              val cur = cursors(c)
              if (!cur.exhausted && cur.curDoc == pivotDoc) cur.next()
              c += 1
            }
          } else {
            // advance the leading cursor up to the pivot document
            sorted.head.seek(pivotDoc)
          }
        }
      }
    }
    if (counters != null) {
      counters.visitedDocs.add(visited)
      counters.scoredDocs.add(scored)
    }
    topk.result
  }
}
