package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analyze.Tokenizer
import graft.codec.PostingCodec
import graft.query.Bm25

/** Distributed inverted-index build — the batch analog of the reference's
  * `add` path (/root/reference/include/usearch/index.hpp:2780-2880),
  * re-expressed as declarative Dataset ops so Catalyst plans the shuffles:
  *
  *   corpus ── tokenize/explode ── groupBy(docId, term) ──► tf [shuffle 1]
  *   tf     ── groupBy(docId) ──► docLens (norms)            [shuffle 2]
  *   tf     ── window sum over docId → dl; groupBy(term, bucket)
  *          ──► posting rows, delta+varbyte + block-max      [shuffles 3,4]
  *   dict   ── derived from posting rows (no extra pass over tf)
  *
  * The docId-range `bucket` is the unit of parallelism, pruning, and skew
  * control: hot terms are split across every bucket (storage salting —
  * SURVEY.md §7.5.2 — the math is untouched) and query-time pruning reads
  * only buckets containing query terms.
  *
  * Each stage persists to Parquet and writes a commit marker + manifest
  * row; a re-run skips committed stages (checkpoint-resume with lineage +
  * metrics, per the north rule). All stages are deterministic functions of
  * the corpus — independent of parallelism and task order.
  */
object IndexBuilder {

  /** Upper bound on the docId-bucket WIDTH the auto geometry will pick.
    * Bucket width — not bucket count — is what the per-task memory of the
    * batched TAAT search scales with (one dense accumulator row is
    * 8·bucketDocs bytes, Searcher.taatBucket): capping width at 2²⁰ docs
    * keeps a row ≤ 8 MB at ANY corpus size, so past ~64·parallelism·2¹⁴
    * docs the bucket COUNT grows instead of the width. Explicit
    * `targetBuckets`/`fixedBucketSize` pins bypass the cap (the caller
    * owns the geometry); taatBucket guards that case with a per-query
    * WAND fallback.
    */
  final val MaxDefaultBucketWidth: Long = 1L << 20

  /** Layout under the index root (Iceberg-style: data + manifests;
    * hand-rolled — no Iceberg jar offline, SURVEY.md §7.0).
    */
  final case class Layout(root: String) {
    def tokens: String = s"$root/tokens"
    def segments: String = s"$root/segments"
    def positions: String = s"$root/positions"
    def doclens: String = s"$root/doclens"
    def dict: String = s"$root/dict"
    def stats: String = s"$root/stats"
    def manifest: String = s"$root/manifest"
    def statusFile(stage: String): java.nio.file.Path =
      Paths.get(root, s"_committed_$stage")
  }

  /** Tokenize a corpus and build the full index at `root`.
    * `knownNDocs` skips the counting pass when the caller already knows
    * the corpus cardinality (a generated or manifest-tracked input).
    * `fixedBucketSize` pins the docId-bucket width explicitly — the LSM
    * knob: generations built with a SHARED bucketSize merge bucket-
    * aligned ([[SegmentMerger.mergeAligned]]) instead of re-shuffling
    * every posting through a rebuild.
    */
  def build(
      spark: SparkSession,
      corpus: DataFrame,
      root: String,
      idCol: String = "doc_id",
      textCol: String = "content",
      targetBuckets: Int = 0,
      knownNDocs: Long = -1L,
      fixedBucketSize: Long = 0L): IndexStats = {
    // fully-committed root: a resume-no-op must cost ZERO jobs — the
    // former shape still ran the corpus count (and a tf aggregate)
    // before discovering every stage was committed, charging two jobs
    // to every caller that reuses a cached index
    if (fullyCommitted(root)) return Meta.readStats(root)
    // corpora often land as few (even single) single-row-group parquet
    // files, where the tokenize + explode + partial-agg map side would
    // run in ONE scan task — spread the raw rows first (deterministic
    // doc-id hash; width follows the session shuffle-partition config)
    val tf = corpus
      .repartition(spark.sessionState.conf.numShufflePartitions, col(idCol))
      .select(col(idCol).as("doc_id"), explode(Tokenizer.tokensCol(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val n = if (knownNDocs >= 0) knownNDocs else corpus.count()
    buildFromTf(spark, tf, n, root, targetBuckets, fixedBucketSize)
  }

  /** All four build stages committed at `root` (the zero-job reuse
    * test — stats.properties is written with the dict commit, so
    * [[Meta.readStats]] is authoritative exactly then).
    */
  private[graft] def fullyCommitted(root: String): Boolean = {
    val layout = Layout(root)
    Seq("tokens", "doclens", "segments", "dict")
      .forall(st => Files.exists(layout.statusFile(st)))
  }

  /** Build the index from an existing tf table (doc_id, term, tf) — the
    * shared path for fresh builds and LSM merges (SegmentMerger decodes
    * source segments back to tf rows and rebuilds here, so merged
    * segments get block-max summaries consistent with the merged avgdl).
    * `nDocs` is the corpus cardinality (BM25's N), supplied by the caller
    * because docs with zero tokens never appear in tf.
    */
  def buildFromTf(
      spark: SparkSession,
      tfIn: DataFrame,
      nDocs: Long,
      root: String,
      targetBuckets: Int = 0,
      fixedBucketSize: Long = 0L): IndexStats = {
    require(targetBuckets == 0 || fixedBucketSize == 0L,
      "targetBuckets and fixedBucketSize are alternative geometry pins")
    // zero-job resume for fully-committed roots (same rationale as
    // [[build]] — the scalars aggregate below otherwise runs per call)
    if (fullyCommitted(root)) return Meta.readStats(root)
    import spark.implicits._
    val layout = Layout(root)
    Files.createDirectories(Paths.get(root))
    val snapshotId = 1L
    val manifests = scala.collection.mutable.ArrayBuffer.empty[ManifestRow]

    def committed(stage: String): Boolean = Files.exists(layout.statusFile(stage))
    // synchronized: the doclens stage commits from a pool thread while
    // segments/dict commit from the caller's thread
    def commit(stage: String, rows: Long, t0: Long): Unit = manifests.synchronized {
      manifests += ManifestRow(snapshotId, stage, -1, stage, rows,
        (System.nanoTime() - t0) / 1000000L, "committed")
      Files.writeString(layout.statusFile(stage), s"rows=$rows")
    }

    // bucket geometry is part of the index identity: persisted BEFORE the
    // first stage commit, so a resumed partial build — possibly under a
    // different core count (Verify runs 4 CPUs, Bench 32, same index
    // roots) — keeps the exact bucketSize the committed stages were
    // written with instead of recomputing it from defaultParallelism.
    // The persisted file is only authoritative once a stage HAS committed:
    // a build that crashed pre-commit must not pin a later run (with a
    // possibly different explicit targetBuckets) to its orphaned geometry.
    val geomPath = Paths.get(root, "geometry.properties")
    val anyCommitted = Seq("tokens", "doclens", "segments", "dict").exists(committed)
    val (buckets, bucketSize) =
      if (anyCommitted) {
        if (!Files.exists(geomPath))
          throw new IllegalStateException(
            s"index at $root has committed stages but no geometry.properties — " +
              "the root is corrupt; delete it and rebuild")
        val kv = Files.readString(geomPath).linesIterator.filter(_.contains("="))
          .map { l => val Array(k, v) = l.split("=", 2); (k, v) }.toMap
        (kv("buckets").toInt, kv("bucketSize").toLong)
      } else {
        val (b, bs) =
          if (fixedBucketSize > 0L)
            // bucket COUNT is a parallelism/stats estimate only (bucket
            // ids come from docId/bucketSize, and generation ids can
            // start at an offset) — the pinned WIDTH is the identity
            (math.max(1, ((nDocs + fixedBucketSize - 1) / fixedBucketSize).toInt), fixedBucketSize)
          else if (targetBuckets > 0) {
            val b0 = targetBuckets
            (b0, math.max(1L, (nDocs + b0 - 1) / b0))
          } else autoGeometry(nDocs, spark.sparkContext.defaultParallelism)
        Files.writeString(geomPath, s"buckets=$b\nbucketSize=$bs\n")
        (b, bs)
      }

    // ---- stage 1: persist the tf table ---------------------------------
    if (!committed("tokens")) {
      val t0 = System.nanoTime()
      tfIn.write.mode(SaveMode.Overwrite).parquet(layout.tokens)
      commit("tokens", -1L, t0)
    }
    val tf = spark.read.parquet(layout.tokens)

    // corpus scalars: ONE column-pruned aggregate over the persisted tf
    // table yields BOTH the overflow-guard max docId and the total token
    // count (avgdl). The former ran as its own max job; the latter was
    // re-derived from the doclens table the build had just written —
    // Σ lens ≡ Σ tf exactly (both Long sums of the same values), and
    // coalesce keeps the degenerate all-empty-docs corpus building (N
    // docs, zero terms) like the old aggregate-not-reduce shape did.
    val scalars = tf
      .agg(coalesce(max($"doc_id"), lit(0L)), coalesce(sum($"tf"), lit(0L)))
      .head()
    val maxDocId = scalars.getLong(0)
    val totalTokens = scalars.getLong(1)
    val avgdl = totalTokens.toDouble / nDocs.toDouble
    // bucket ids must fit an Int: bucket = docId div bucketSize is a
    // BIGINT → INT cast here and a .toInt in the searcher, and BOTH wrap
    // past Int.Max — a wrapped id would alias another bucket, so this
    // require is the only guard. 2³¹
    // buckets × the default 2²⁰ width covers 2⁵¹ ≈ 2.3·10¹⁵ docs; the
    // realistic trip is a SMALL fixedBucketSize on a generation at a
    // large id offset (late in a 10¹²-doc streamed ingest) — pin a
    // larger shared width instead. Footer-stats max: cheap per build.
    // NOTE on remediation: by this point stage 1 has committed 'tokens'
    // and geometry.properties, and a rebuild at the same root reuses the
    // PERSISTED bucketSize (anyCommitted resume) — a new fixedBucketSize
    // at the same path is ignored, so the root must be deleted (or a new
    // root chosen) before rebuilding with the larger width.
    require(maxDocId / bucketSize <= Int.MaxValue.toLong,
      s"bucket id overflow: max doc_id $maxDocId at bucketSize $bucketSize " +
        "exceeds Int range — delete this index root (its committed " +
        "geometry pins the current width) and rebuild with a larger " +
        "fixedBucketSize for this id range")

    // ---- stages 2 and 3 OVERLAP: doclens and segments both derive from
    // the persisted tf table and are independent of each other, so the
    // doclens job runs on a driver thread while the (heavier) segments
    // shuffle+write proceeds — concurrent jobs back-fill executor slots
    // left idle by each other's stage tails; results are byte-identical
    // because the stages share no state beyond the read-only tf table.
    // ---- stage 2: doc lengths (norms), bucketed -------------------------
    val doclensFuture: java.util.concurrent.Future[_] =
      if (committed("doclens")) null
      else IndexBuilder.stagePool.submit(new Runnable {
        override def run(): Unit = {
          val t0 = System.nanoTime()
          // declarative agg (not groupByKey.mapGroups): partials combine
          // map-side and the whole stage stays in Tungsten/codegen; the
          // struct array_sort orders by the unique doc_id, reproducing
          // the former sortBy exactly
          tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
            .withColumn("bucket", expr(s"cast(doc_id div ${bucketSize}L as int)"))
            .groupBy($"bucket")
            .agg(array_sort(collect_list(struct($"doc_id", $"dl"))).as("p"))
            .select($"bucket",
              expr("transform(p, x -> x.doc_id)").as("docIds"),
              expr("transform(p, x -> x.dl)").as("lens"))
            .write.mode(SaveMode.Overwrite).parquet(layout.doclens)
          commit("doclens", nDocs, t0)
        }
      })
    def awaitDoclens(): Unit =
      if (doclensFuture != null) {
        try doclensFuture.get()
        catch {
          // surface the doclens job's ORIGINAL exception, matching the
          // sequential shape this overlap replaced
          case e: java.util.concurrent.ExecutionException if e.getCause != null =>
            throw e.getCause
        }
      }

    // ---- stage 3: posting segments, bucketed + block-encoded ------------
    try {
    if (!committed("segments")) {
      val t0 = System.nanoTime()
      val avgdlLocal = avgdl
      // ONE shuffle straight to the WRITE layout: (bucket, term-hash
      // split) partitions with parallelism = shuffle-partition-wide
      // (repartition(bucket) alone would cap parallelism at the bucket
      // count and serialize big buckets through single tasks), rows
      // sorted (bucket, term, docId) so posting rows are built by
      // RUN-GROUPING the sorted iterator — replacing the former
      // groupByKey shuffle + a second repartition of the built rows
      // (3 shuffles of the tf data → 2 in the heaviest stage).
      // dl via window over the doc_id shuffle — no second pass / join
      val wDoc = Window.partitionBy(col("doc_id"))
      tf.withColumn("dl", sum(col("tf")).over(wDoc))
        .withColumn("bucket", expr(s"cast(doc_id div ${bucketSize}L as int)"))
        .select($"term", $"bucket", $"doc_id", $"tf", $"dl")
        .repartition(
          math.max(buckets, spark.sessionState.conf.numShufflePartitions),
          col("bucket"), pmod(hash(col("term")),
            lit(math.max(1, spark.sessionState.conf.numShufflePartitions / buckets))))
        .sortWithinPartitions(col("bucket"), col("term"), col("doc_id"))
        .as[(String, Int, Long, Long, Long)]
        .mapPartitions { it =>
          // consecutive (bucket, term) runs of the sorted partition —
          // each run is one posting row, docIds already ascending
          new Iterator[PostingRow] {
            private val buf = it.buffered
            def hasNext: Boolean = buf.hasNext
            def next(): PostingRow = {
              val head = buf.head
              val (term, bucket) = (head._1, head._2)
              val docIds = Array.newBuilder[Long]
              val tfs = Array.newBuilder[Int]
              val lens = Array.newBuilder[Long]
              while (buf.hasNext && buf.head._1 == term && buf.head._2 == bucket) {
                val r = buf.next()
                docIds += r._3; tfs += r._4.toInt; lens += r._5
              }
              val ids = docIds.result(); val tfa = tfs.result(); val lna = lens.result()
              val norms = Array.tabulate(ids.length)(i => Bm25.tfNorm(tfa(i), lna(i), avgdlLocal))
              val blocks = PostingCodec
                .encodeBlocks(ids, tfa, i => norms(i))
                .map(b => EncBlock(b.firstDocId, b.lastDocId, b.count, b.maxTfNorm, b.bytes))
              PostingRow(term, bucket, ids.length.toLong, norms.max, blocks)
            }
          }
        }
        .write
        .mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(layout.segments)
      ensureReadableWhenEmpty[PostingRow](spark, layout.segments)
      commit("segments", -1L, t0)
    }

    // ---- stage 4: dictionary + stats, derived from segment rows ---------
    if (!committed("dict")) {
      val t0 = System.nanoTime()
      val (nTerms, totalPostings) = writeDictFiles(spark, layout)
      Meta.writeStats(root, IndexStats(nDocs, totalTokens, nTerms,
        totalPostings, bucketSize, buckets))
      commit("dict", nTerms, t0)
    }
    } catch {
      // join the doclens thread before propagating a segments/dict
      // failure, WITHOUT letting a concurrent doclens failure mask the
      // primary error (the first failure keeps its stack trace; a
      // second failure rides along as suppressed)
      case primary: Throwable =>
        try awaitDoclens()
        catch {
          case secondary: Throwable if secondary ne primary =>
            primary.addSuppressed(secondary)
        }
        throw primary
    }
    // success path: a failed doclens job rethrows here and its commit
    // marker is never written, same as the sequential shape
    awaitDoclens()
    // lineage + metrics (Iceberg-style JSON metadata, driver-side)
    if (manifests.nonEmpty) Meta.appendManifest(root, manifests.toSeq)
    Meta.readStats(root)
  }

  /** Submit thunks to [[stagePool]] and await EVERY one of them in input
    * order, rethrowing the first failed thunk's ORIGINAL exception
    * instead of the pool's ExecutionException wrapper, with any later
    * failures attached as suppressed — concurrent callers keep the exact
    * error contract of the sequential map they replaced (e.g. a
    * missing-positions-sidecar require must still surface as
    * IllegalArgumentException with its remediation message), and no
    * submitted thunk is left running unobserved.
    */
  private[graft] def awaitAll[T](fs: Seq[() => T]): Seq[T] = {
    val futures = fs.map { f =>
      stagePool.submit(new java.util.concurrent.Callable[T] {
        override def call(): T = f()
      })
    }
    var first: Throwable = null
    val out = futures.map { fu =>
      try fu.get()
      catch {
        case e: Throwable =>
          val cause = e match {
            case ee: java.util.concurrent.ExecutionException if ee.getCause != null => ee.getCause
            case other => other
          }
          if (first == null) first = cause
          else if (cause ne first) first.addSuppressed(cause)
          null.asInstanceOf[T]
      }
    }
    if (first != null) throw first
    out
  }

  /** Shared pool for the overlapped build stage (daemon threads — a
    * crashed driver must not hang on pool shutdown). Concurrent builds
    * (e.g. the two multigen generations) each submit at most one task.
    */
  private[graft] lazy val stagePool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, "graft-build-stage")
          t.setDaemon(true)
          t
        }
      })

  /** Opt-in POSITIONS sidecar build — term positions per (term, bucket,
    * doc), delta+varbyte blocks on the same 128-doc boundaries as the
    * frequency segments ([[graft.codec.PositionCodec]]). A separate
    * committed stage over a separate table so (a) existing indexes stay
    * readable unchanged, (b) frequency-only queries never scan position
    * bytes, (c) a resumed build skips it like any other stage. Enables
    * index-only phrase/proximity queries (the reference's exact-text
    * retrieval direction, /root/reference/README.md:3-4,
    * /root/reference/cpp/test.cpp:982-1060).
    *
    * Same scale shape as the segments stage: ONE shuffle of the
    * posexploded corpus straight to the write layout — (bucket,
    * term-hash split) partitions, rows sorted (bucket, term, doc_id,
    * pos), posting rows run-grouped from the sorted iterator. Requires a
    * committed index at `root` (reads its pinned geometry).
    */
  def buildPositions(
      spark: SparkSession,
      corpus: DataFrame,
      root: String,
      idCol: String = "doc_id",
      textCol: String = "content"): Unit = {
    import spark.implicits._
    val layout = Layout(root)
    if (Files.exists(layout.statusFile("positions"))) return
    val geomPath = Paths.get(root, "geometry.properties")
    require(Files.exists(geomPath) && Files.exists(layout.statusFile("segments")),
      s"buildPositions requires a committed index at $root")
    val bucketSize = Files.readString(geomPath).linesIterator
      .collectFirst { case l if l.startsWith("bucketSize=") => l.drop(11).toLong }
      .getOrElse(throw new IllegalStateException(s"no bucketSize in $geomPath"))
    val buckets = math.max(1,
      spark.read.parquet(layout.doclens).select("bucket").distinct().count().toInt)
    val t0 = System.nanoTime()
    val nPart = math.max(buckets, spark.sessionState.conf.numShufflePartitions)
    corpus
      // spread the scan before the posexplode (same single-task-input
      // rationale as the frequency build)
      .repartition(spark.sessionState.conf.numShufflePartitions, col(idCol))
      .select(col(idCol).as("doc_id"),
        posexplode(Tokenizer.tokensCol(col(textCol))).as(Seq("pos", "term")))
      .withColumn("bucket", expr(s"cast(doc_id div ${bucketSize}L as int)"))
      .select($"term", $"bucket", $"doc_id", $"pos")
      .repartition(nPart, col("bucket"), pmod(hash(col("term")),
        lit(math.max(1, spark.sessionState.conf.numShufflePartitions / buckets))))
      .sortWithinPartitions(col("bucket"), col("term"), col("doc_id"), col("pos"))
      .as[(String, Int, Long, Int)]
      .mapPartitions { it =>
        new Iterator[PosRow] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): PosRow = {
            val head = buf.head
            val (term, bucket) = (head._1, head._2)
            val docIds = scala.collection.mutable.ArrayBuffer.empty[Long]
            val poss = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
            val cur = scala.collection.mutable.ArrayBuffer.empty[Int]
            var curDoc = Long.MinValue
            while (buf.hasNext && buf.head._1 == term && buf.head._2 == bucket) {
              val r = buf.next()
              if (r._3 != curDoc) {
                if (curDoc != Long.MinValue) { docIds += curDoc; poss += cur.toArray }
                curDoc = r._3
                cur.clear()
              }
              cur += r._4
            }
            docIds += curDoc; poss += cur.toArray
            val ids = docIds.toArray
            val blocks = graft.codec.PositionCodec.encodeBlocks(ids, poss.toArray)
              .map { case (f, l, c, b) => PosBlock(f, l, c, b) }
            PosRow(term, bucket, ids.length.toLong, blocks)
          }
        }
      }
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(layout.positions)
    ensureReadableWhenEmpty[PosRow](spark, layout.positions)
    Files.writeString(layout.statusFile("positions"),
      s"elapsedMs=${(System.nanoTime() - t0) / 1000000L}")
  }

  /** Default (buckets, bucketSize) when the caller pins neither: bucket
    * count tracks parallelism until the WIDTH would exceed
    * [[MaxDefaultBucketWidth]], after which the count grows and the width
    * stays bounded — so the TAAT accumulator row stays ≤ 8 MB at any
    * corpus size (EngineSpec pins both regimes).
    */
  private[graft] def autoGeometry(nDocs: Long, parallelism: Int): (Int, Long) = {
    // min computed in Long FIRST: (nDocs/64).toInt overflows past ~10¹¹
    // docs, and the old formula silently collapsed to one bucket there
    val b0 = math.max(1, math.min(parallelism.toLong, nDocs / 64L + 1L).toInt)
    val bs0 = math.max(1L, (nDocs + b0 - 1) / b0)
    if (bs0 <= MaxDefaultBucketWidth) (b0, bs0)
    else
      (((nDocs + MaxDefaultBucketWidth - 1) / MaxDefaultBucketWidth).toInt,
        MaxDefaultBucketWidth)
  }

  /** Derive the dictionary from the segment rows at `layout` and write it
    * (range-partitioned, term-sorted — per-query term lookups prune to
    * one file + one row group via min/max stats). Shared by the fresh
    * build (stage 4) and the bucket-aligned LSM merge.
    * @return (nTerms, totalPostings)
    */
  /** `partitionBy` parquet writes create files lazily, so an EMPTY
    * dataset leaves only `_SUCCESS` behind and the table cannot be read
    * back (no schema to infer) — the degenerate build over a corpus whose
    * every doc tokenizes to nothing (binary files stripped bare, a
    * pathological micro-batch). When no data file landed anywhere under
    * `path`, append one explicitly-empty non-partitioned frame carrying
    * the full row schema (the partition column rides as a regular column;
    * pruning is moot on an empty table and bucket predicates still
    * apply). Non-partitioned writes don't need this: Spark's writer
    * creates their files eagerly even for zero rows.
    */
  private[graft] def ensureReadableWhenEmpty[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, path: String, partitionCol: String = "bucket"): Unit = {
    val s = Files.walk(Paths.get(path))
    val hasData =
      try s.anyMatch(f => f.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    if (!hasData) {
      // column ORDER must match a partitioned read (partition column
      // LAST), or a positional union of a degenerate generation with a
      // normal one mis-binds columns
      val ds = spark.emptyDataset[T]
      val ordered = ds.columns.filterNot(_ == partitionCol) :+ partitionCol
      ds.select(ordered.map(col): _*).write.mode(SaveMode.Append).parquet(path)
    }
  }

  private[index] def writeDictFiles(spark: SparkSession, layout: Layout): (Long, Long) = {
    import spark.implicits._
    // declarative agg, NOT groupByKey.mapGroups: the typed path
    // deserialized FULL PostingRows — dragging every encoded posting
    // block through the term shuffle to compute three scalars — where
    // this plan prunes the scan to (term, bucket, df, maxTfNorm) and
    // partial-aggregates map-side. maxTfNorm ≥ tfNorm > 0, so max()
    // equals the old fold-from-0.0; the bucket list is always EXPLICIT:
    // generation indexes hold docId subranges, so their bucket ids are
    // not 0-based and no "all buckets" sentinel can expand correctly
    spark.read.parquet(layout.segments)
      .groupBy($"term")
      .agg(sum($"df").as("df"), max($"maxTfNorm").as("maxTfNorm"),
        sort_array(collect_list($"bucket")).as("buckets"))
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode(SaveMode.Overwrite).parquet(layout.dict)

    val agg = spark.read.parquet(layout.dict).as[DictRow]
      .agg(count(lit(1)), coalesce(sum($"df"), lit(0L))).head()
    (agg.getLong(0), agg.getLong(1))
  }
}
