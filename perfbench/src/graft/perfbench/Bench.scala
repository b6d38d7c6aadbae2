package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.{PostingCodec, Postings}
import graft.corpus.CorpusGen
import graft.index._
import graft.oracle.ExactScorer
import graft.query.Bm25

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    cpus: Int,
    work: Path,
    out: Path,
    tiny: Boolean,
    corruptExpected: Boolean,
    gitCommit: String,
    sourceDigest: String,
    cds: String)

/** A freshly built index root with its default and serving-mode searchers. */
final class Served(val dir: Path, val root: String, val s: Searcher, val h: Searcher)

/** One benchmark run: set-up repeated `setupReps` times (median reported),
  * then a closed loop of one client thread over the read paths for the
  * measured seconds. A traced run adds the ingest life cycle (two
  * generations, aligned merge, MultiSearcher) and the driver-side codec
  * and kernel measurements. Every result is checked against
  * `graft.oracle.ExactScorer`.
  */
final class Bench(o: Opts) {
  import Workload._

  private val w = if (o.tiny) Workload.tiny(Workload.named(o.workload)) else Workload.named(o.workload)
  private val k = 10
  private val tracer = new Tracer(o.trace)
  private val metricsOut = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val meta = mutable.LinkedHashMap.empty[String, String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val windows = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val manifests = mutable.ArrayBuffer.empty[Seq[ManifestRow]]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val digest = java.security.MessageDigest.getInstance("SHA-256")
  private var attempted = 0L
  private var failed = 0L
  private var reqSeq = 0L

  private lazy val spark: SparkSession = SparkSession.builder()
    .master(s"local[${o.cpus}]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", o.cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", o.work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
    .getOrCreate()
  private var listener: SchedListener = _

  private val pool: IndexedSeq[(Int, String)] =
    if (w.generated) CorpusGen.querySet(w.poolSize, o.seed) else Inputs.serveQueries(o.seed, w.poolSize)
  private val poolTerms: Seq[String] = pool.flatMap(q => Inputs.terms(q._2)).distinct.sorted
  private val hotQueries = w.hotQueries
  private val gateIds = Inputs.sample(o.seed, hotQueries, 2).map(pool(_)._1)
  // searchHot calls visit the working set round-robin in a seeded order
  private val hotOrder = Inputs.sample(o.seed ^ 0x40L, hotQueries, hotQueries)
  private var hotCalls = 0
  private val corpusPath = o.work.resolve("corpus").toString
  private var expected: Map[Int, Array[(Long, Double)]] = Map.empty
  private var inputBytes = 0L

  // ---- bookkeeping -----------------------------------------------------

  private val t00 = System.nanoTime()
  private def log(msg: String): Unit = System.err.println(f"[perfbench +${(System.nanoTime() - t00) / 1e9}%.1fs] $msg")

  private def nextReq(): Long = { reqSeq += 1; reqSeq }
  // off during the warm-up loop: its calls are checked but not measured
  private var recording = true
  private def sample(name: String, v: Double): Unit =
    if (recording) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  private def samplesOf(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Seq.empty)
  private def metric(name: String, v: Double, unit: String): Unit = metricsOut(name) = (v, unit)

  /** Wall-clock ms of `body`; the window is kept so the listener can
    * attribute the jobs submitted inside it.
    */
  private def timed[T](kind: String)(body: => T): (T, Double) = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    val ms = (System.nanoTime() - t0) / 1e6
    if (recording) windows.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ((w0, System.currentTimeMillis()))
    (r, ms)
  }

  private def sched(kind: String): Seq[SchedWindow] =
    if (listener == null) Seq.empty
    else windows.get(kind).map(_.toSeq).getOrElse(Seq.empty).map { case (a, b) => listener.window(a, b) }

  /** One checked operation: an exception or a wrong result counts as failed. */
  private def op(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok =
      try body
      catch {
        case e: Exception =>
          failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
      }
    if (!ok) failed += 1
  }

  /** Bit-for-bit: same doc ids, same doubles, same order. */
  private def check(what: String, qid: Int, got: Array[(Long, Double)]): Boolean = {
    val want = expected(qid)
    val ok = got.length == want.length && got.indices.forall { i =>
      got(i)._1 == want(i)._1 &&
        java.lang.Double.doubleToRawLongBits(got(i)._2) == java.lang.Double.doubleToRawLongBits(want(i)._2)
    }
    if (!ok) failures += s"$what q$qid '${pool(qid)._2}': got ${got.mkString(",")} want ${want.mkString(",")}"
    ok
  }

  private def hits(rows: Array[Row]): Array[(Long, Double)] =
    rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  // ---- the calls into each layer ----------------------------------------

  /** Distributed search. Traced, planning, Catalyst optimisation, physical
    * planning and execution are forced one at a time, each in its span.
    * A traced search of the measured loop also times its execution in a
    * window of its own, so the listener sets the task time of exactly
    * those jobs against exactly that wall time.
    */
  private def search(se: Searcher, q: String, traced: Boolean, req: Long,
      measured: Boolean = false): Array[(Long, Double)] =
    if (!traced) hits(se.search(q, k).collect())
    else tracer.span("search", req) {
      val df = tracer.span("searcher.plan", req)(se.search(q, k))
      tracer.span("catalyst.optimize", req)(df.queryExecution.optimizedPlan)
      tracer.span("catalyst.physical", req)(df.queryExecution.executedPlan)
      hits(tracer.span("searcher.exec", req) {
        if (!measured) df.collect()
        else {
          val (rows, ms) = timed("search.exec")(df.collect())
          sample("search_exec_ms", ms)
          rows
        }
      })
    }

  private def batch(se: Searcher, qs: Seq[(Int, String)], req: Long): Map[Int, Array[(Long, Double)]] = {
    val rows = tracer.span("batch", req) {
      val df = tracer.span("batch.plan", req)(se.searchMany(qs, k))
      tracer.span("batch.exec", req)(df.collect())
    }
    val got = rows.groupBy(_.getAs[Int]("query_id")).map { case (q, rs) => q -> hits(rs.sortBy(_.getAs[Int]("rank"))) }
    qs.map { case (id, _) => id -> got.getOrElse(id, Array.empty[(Long, Double)]) }.toMap
  }

  private def hot(se: Searcher, q: String, req: Long): Array[(Long, Double)] =
    tracer.span("hot", req)(se.searchHot(q, k).map(h => (h.docId, h.score)))

  private def multigen(ms: MultiSearcher, q: String, req: Long): Array[(Long, Double)] =
    tracer.span("multigen", req) {
      val df = tracer.span("multi.plan", req)(ms.search(q, k))
      hits(tracer.span("multi.exec", req)(df.collect()))
    }

  private def batchAt(i: Long): Seq[(Int, String)] = {
    val from = Inputs.draw(o.seed, i, pool.size)
    (0 until math.min(w.batch, pool.size)).map(j => pool((from + j) % pool.size))
  }

  // ---- set-up -------------------------------------------------------------

  private def writeCorpus(): Unit = tracer.span("corpus.write") {
    import spark.implicits._
    deleteRec(o.work.resolve("corpus"))
    val seed = o.seed
    val generated = w.generated
    spark.range(0L, w.nDocs.toLong, 1L, o.cpus)
      .map(i => (i.longValue, if (generated) CorpusGen.genDoc(seed, i).content else Inputs.serveDoc(seed, i)))
      .toDF("doc_id", "content")
      .write.parquet(corpusPath)
  }

  /** Cold fill of the serving cache for the hot working set: one
    * `searchHot` per 32 of its terms, each one pruned read of their postings.
    */
  private def hotFill(se: Searcher, req: Long): Unit = {
    val terms = pool.take(hotQueries).flatMap(q => Inputs.terms(q._2)).distinct.sorted
    val (_, ms) = timed("hotfill")(tracer.span("hot.fill", req) {
      terms.grouped(32).foreach(ts => se.searchHot(ts.mkString(" "), 1))
    })
    sample("hot_fill_ms", ms)
  }

  /** Corpus write, fresh build, searchers, warm-up and the hot-cache fill. */
  private def setupOnce(rep: Int): Served = {
    val req = nextReq()
    val t0 = System.nanoTime()
    val served = tracer.span("setup", req) {
      writeCorpus()
      log(s"setup $rep: corpus written")
      val dir = o.work.resolve(s"index-$rep")
      deleteRec(dir)
      val root = dir.resolve("fresh").toString
      val (_, buildMs) = timed("build")(tracer.span("build", req)(
        IndexBuilder.build(spark, spark.read.parquet(corpusPath), root, knownNDocs = w.nDocs.toLong)))
      sample("build_ms", buildMs)
      log(s"setup $rep: built")
      manifests += Meta.readManifest(root)
      val sv = tracer.span("open", req)(
        new Served(dir, root, new Searcher(spark, root), new Searcher(spark, root, cacheHot = true)))
      tracer.span("warmup", req)(sv.s.search(pool.head._2, k).collect())
      log(s"setup $rep: warmed up")
      hotFill(sv.h, req)
      log(s"setup $rep: hot cache filled")
      sv
    }
    sample("setup_s", (System.nanoTime() - t0) / 1e9)
    served
  }

  private def discard(dir: Path): Unit = {
    spark.catalog.clearCache()
    deleteRec(dir)
  }

  /** Expected top-k of every pool query: `ExactScorer`'s full scan of the
    * corpus rows, without the index; the pool is split over the cores.
    */
  private def computeExpected(): Unit = {
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(corpusPath).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("content"))).sortBy(_._1).toIndexedSeq
    inputBytes = docs.map(_._2.getBytes(StandardCharsets.UTF_8).length.toLong).sum
    val exact = new ExactScorer(docs)
    val parts = pool.grouped(math.max(1, pool.size / o.cpus + 1)).toSeq.map { qs =>
      Future(qs.map { case (id, q) => id -> exact.search(q, k) })
    }
    expected = Await.result(Future.sequence(parts), Duration.Inf).flatten.toMap
    if (o.corruptExpected) // self-test: one wrong expectation, which the gate must catch
      expected = expected.updated(gateIds.head, expected(gateIds.head) :+ ((-1L, 1.0)))
    meta("expected_s") = f"${(System.nanoTime() - t0) / 1e9}%.3f"
  }

  /** search ≡ searchHot ≡ searchMany ≡ searchExact ≡ expected on a seeded
    * sample of the hot working set.
    */
  private def sampleGate(sv: Served): Unit = {
    val byBatch = batch(sv.s, gateIds.map(pool(_)), nextReq())
    gateIds.foreach { id =>
      val q = pool(id)._2
      val req = nextReq()
      Seq(
        "search" -> search(sv.s, q, o.trace, req),
        "searchHot" -> hot(sv.h, q, req),
        "searchMany" -> byBatch(id),
        "searchExact" -> hits(sv.s.searchExact(q, k).collect())).foreach { case (path, got) =>
        op(s"sample $path")(check(s"sample $path", id, got))
        digest.update(s"$path $id ${got.mkString(",")}\n".getBytes(StandardCharsets.UTF_8))
      }
    }
  }

  // ---- measured loop --------------------------------------------------------

  private def runOp(sv: Served, kind: String, i: Long): Unit = {
    val req = nextReq()
    val (qid, q) =
      if (kind == Hot) { hotCalls += 1; pool(hotOrder((hotCalls - 1) % hotQueries)) }
      else pool(Inputs.draw(o.seed, i, pool.size))
    kind match {
      case Search =>
        op("search") {
          val (got, ms) = timed("search")(search(sv.s, q, o.trace, req, measured = true))
          sample("search_ms", ms)
          check("search", qid, got)
        }
        if (o.trace) {
          tracer.span("searcher.dict", req)(sv.s.dictRows(Inputs.terms(q)))
        }
      case Hot =>
        op("searchHot") {
          val (got, ms) = timed("hot")(hot(sv.h, q, req))
          sample("hot_ms", ms)
          check("searchHot", qid, got)
        }
      case Batch =>
        val qs = batchAt(i)
        op("searchMany") {
          val (got, ms) = timed("batch")(batch(sv.s, qs, req))
          sample("batch_ms", ms)
          qs.map { case (id, _) => check("searchMany", id, got(id)) }.forall(identity)
        }
    }
  }

  /** Each call goes to the open read path furthest below its share of the
    * time spent. When recording, past the deadline a path stays open while
    * short of its minimum, for at most a quarter of the time more, and a
    * path without a single call stays open regardless. Unrecorded, the
    * loop is the warm-up: the same calls, checked, until each path has
    * made its count of `w.warmOps`. The warm-up counts calls rather than
    * seconds, so that a slow host still warms the read paths as far as a
    * fast one before the measured loop starts.
    */
  private def measure(sv: Served, seconds: Double, record: Boolean): Unit = {
    val spent = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val counts = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val hardStop = deadline + (seconds * 0.25e9).toLong
    def isOpen(now: Long, op: String) =
      if (!record) counts(op) < w.warmOps(op)
      else now < deadline || counts(op) == 0 || (now < hardStop && counts(op) < w.minOps(op))
    recording = record
    // the warm-up opens with the hot minimum back to back: its share alone
    // would leave most of the working set unvisited before measuring
    if (!record) (0 until w.minOps(Hot)).foreach(_ => runOp(sv, Hot, 0L))
    var i = 0L
    var now = System.nanoTime()
    while (Shares.exists(s => isOpen(now, s._1))) {
      val kind = Shares.filter(s => isOpen(now, s._1)).minBy { case (op, share) => spent(op) / share }._1
      runOp(sv, kind, i)
      val after = System.nanoTime()
      spent(kind) += after - now
      counts(kind) += 1
      now = after
      i += 1
    }
    recording = true
    val phase = if (record) "measured" else "warmup"
    meta(s"${phase}_s") = f"${(now - t0) / 1e9}%.3f"
    Shares.foreach { case (op, _) => meta(s"ops.$phase.$op") = counts(op).toString }
  }

  // ---- traced runs only -----------------------------------------------------

  private val searchLayers = Seq("searcher.plan", "catalyst.optimize", "catalyst.physical", "searcher.exec")

  /** Pairs of one query searched traced and untraced, order alternating:
    * the tracing overhead, and how much of an untraced search the four
    * layer spans account for.
    */
  private def traceOverhead(sv: Served): Unit = {
    val layerSums = (0 until (if (o.tiny) 3 else 8)).map { j =>
      val (qid, q) = pool(Inputs.draw(o.seed ^ 0x2eL, j, pool.size))
      val req = nextReq()
      def one(traced: Boolean): Unit = op("search") {
        val t0 = System.nanoTime()
        val got = search(sv.s, q, traced, req)
        sample(if (traced) "pair_traced_ms" else "pair_untraced_ms", (System.nanoTime() - t0) / 1e6)
        check("search", qid, got)
      }
      Seq(j % 2 == 0, j % 2 == 1).foreach(one)
      tracer.all.filter(sp => sp.req == req && searchLayers.contains(sp.name)).map(_.ms).sum
    }
    val untraced = Stats.median(samplesOf("pair_untraced_ms"))
    metric("trace.search_layers_vs_untraced_p50", Stats.median(layerSums) / untraced, "ratio")
    metric("trace.overhead_frac", Stats.median(samplesOf("pair_traced_ms")) / untraced - 1.0, "frac")
  }

  /** The ingest life cycle: generations A and B built with the fresh
    * root's bucket width, merged (aligned) into M; MultiSearcher over A+B
    * and search on M must both equal the expected results.
    */
  private def lifecycle(sv: Served): Unit = {
    val dir = o.work.resolve("lifecycle")
    deleteRec(dir)
    val Seq(a, b, m) = Seq("gen-a", "gen-b", "merged").map(dir.resolve(_).toString)
    val half = w.nDocs / 2
    val width = Meta.readStats(sv.root).bucketSize
    val corpus = spark.read.parquet(corpusPath)
    val req = nextReq()
    val (_, gensMs) = timed("gens")(tracer.span("lifecycle.build_gens", req) {
      IndexBuilder.build(spark, corpus.where(col("doc_id") < half), a, knownNDocs = half.toLong, fixedBucketSize = width)
      IndexBuilder.build(spark, corpus.where(col("doc_id") >= half), b, knownNDocs = (w.nDocs - half).toLong,
        fixedBucketSize = width)
    })
    val (_, mergeMs) = timed("merge")(tracer.span("merge", req)(SegmentMerger.merge(spark, Seq(a, b), m)))
    val ms = new MultiSearcher(spark, Seq(a, b))
    val merged = new Searcher(spark, m)
    multigen(ms, pool.head._2, req)
    (0 until (if (o.tiny) 3 else 16)).foreach { i =>
      val (qid, q) = pool(Inputs.draw(o.seed ^ 0x1fL, i, pool.size))
      val r = nextReq()
      op("multigen") {
        val (got, ms1) = timed("multigen")(multigen(ms, q, r))
        sample("multigen_ms", ms1)
        check("multigen", qid, got) && check("merged search", qid, search(merged, q, traced = false, r))
      }
      val (_, gms) = timed("globalstats")(tracer.span("multi.global_stats", r)(ms.globalStatsFor(Inputs.terms(q))))
      sample("global_stats_ms", gms)
    }
    val mm = Meta.readStats(m)
    meta ++= Seq(
      "lifecycle.gens_ms" -> f"$gensMs%.1f",
      "lifecycle.merge_path" -> (if (Meta.readManifest(m).exists(_.stage == "merge_aligned")) "aligned" else "rebuild"),
      "lifecycle.merged.nBuckets" -> mm.nBuckets.toString, "lifecycle.merged.bucketSize" -> mm.bucketSize.toString,
      "lifecycle.merged.totalPostings" -> mm.totalPostings.toString)
    metric("merge_docs_per_s", w.nDocs * 1e3 / mergeMs, "1/s")
    metric("merge.ms", mergeMs, "ms")
    val gw = sched("merge")
    metric("merge.jobs", gw.map(_.jobs).sum.toDouble, "count")
    metric("merge.shuffle_write_bytes", gw.map(_.shuffleWriteBytes).sum.toDouble, "B")
    val v = samplesOf("multigen_ms")
    metric("multigen_search_p50_ms", Stats.median(v), "ms")
    metric("multigen_search_p95_ms", Stats.quantile(v, 0.95), "ms")
    val mw = sched("multigen")
    metric("multi.jobs_per_query", mw.map(_.jobs).sum / math.max(1, mw.size).toDouble, "count")
    metric("multi.global_stats_ms", Stats.median(samplesOf("global_stats_ms")), "ms")
    metric("multi.exec_ms", Stats.median(tracer.durationsMs("multi.exec")), "ms")
    discard(dir)
  }

  /** Codec and scoring kernels on the driver, over the fresh root's postings. */
  private def codecAndKernels(sv: Served): Unit = {
    import spark.implicits._
    val stats = Meta.readStats(sv.root)
    val segs = spark.read.parquet(IndexBuilder.Layout(sv.root).segments).as[PostingRow].collect()
    val doclens = spark.read.parquet(IndexBuilder.Layout(sv.root).doclens).as[DocLenRow].collect()
      .map(d => d.bucket -> d).toMap

    val nPostings = segs.iterator.map(_.df).sum.toDouble
    val encodedBytes = segs.iterator.flatMap(_.blocks).map(_.bytes.length.toLong).sum
    var decoded: Array[Postings] = null
    val decodeMs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      decoded = tracer.span("codec.decode")(segs.map(r => PostingCodec.decodeBlocks(r.blocks.map(_.bytes).toSeq)))
      (System.nanoTime() - t0) / 1e6
    }
    val encodeMs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      tracer.span("codec.encode")(decoded.foreach(p => PostingCodec.encodeBlocks(p.docIds, p.tfs, _ => 1.0)))
      (System.nanoTime() - t0) / 1e6
    }
    metric("codec.decode_postings_per_s", nPostings / (Stats.median(decodeMs) / 1e3), "1/s")
    metric("codec.encode_postings_per_s", nPostings / (Stats.median(encodeMs) / 1e3), "1/s")
    metric("codec.bytes_per_posting", encodedBytes / nPostings, "B")

    // kernels over the resident decoded postings of the pool's terms
    val termSet = poolTerms.toSet
    val byBucket = segs.zip(decoded).filter(x => termSet.contains(x._1.term)).groupBy(_._1.bucket)
    val caches = byBucket.map { case (b, rs) =>
      val c = new java.util.HashMap[String, Postings]()
      rs.foreach { case (r, p) => c.put(r.term, p) }
      b -> c
    }
    val idf = sv.s.dictRows(poolTerms).map { case (t, d) => t -> Bm25.idf(d.df, stats.nDocs) }
    val live = pool.map { case (id, q) => id -> Inputs.terms(q).filter(idf.contains).toArray }
    def wand(exact: Boolean, counters: SearchCounters): Double = {
      val t0 = System.nanoTime()
      tracer.span(if (exact) "kernel.wand_exact" else "kernel.wand") {
        live.foreach { case (id, ts) =>
          val got = byBucket.iterator.flatMap { case (b, rs) =>
            val rows = rs.map(_._1).filter(r => ts.contains(r.term))
            if (rows.isEmpty) Iterator.empty
            else Searcher.wandBucket(rows, doclens(b), idf, stats.avgdl, 1.0, k, exact, None, caches(b), counters)
          }.toArray.sortBy(h => (-h.score, h.docId)).take(k).map(h => (h.docId, h.score))
          op("kernel.wand")(check("kernel.wand", id, got))
        }
      }
      (System.nanoTime() - t0) / 1e6
    }
    val cw = SearchCounters(spark)
    val ce = SearchCounters(spark)
    val wandMs = wand(exact = false, cw)
    wand(exact = true, ce)
    val nq = live.size.toDouble
    metric("kernel.wand_ms_per_query", wandMs / nq, "ms")
    metric("kernel.wand_scored_docs_per_s", cw.scoredDocs.value / (wandMs / 1e3), "1/s")
    metric("wand.visited_docs_per_query", cw.visitedDocs.value / nq, "count")
    metric("wand.scored_docs_per_query", cw.scoredDocs.value / nq, "count")
    metric("wand.scored_vs_exact", cw.scoredDocs.value.toDouble / math.max(1L, ce.scoredDocs.value), "ratio")

    val qs = live.take(w.batch).filter(_._2.nonEmpty).toArray
    val ct = SearchCounters(spark)
    val taatMs = (0 until 3).map { rep =>
      val t0 = System.nanoTime()
      tracer.span("kernel.taat") {
        byBucket.foreach { case (b, rs) =>
          Searcher.taatBucket(rs.map(_._1), doclens(b), idf, stats.avgdl, k, qs, caches(b),
            counters = if (rep == 0) ct else null).foreach(_ => ())
        }
      }
      (System.nanoTime() - t0) / 1e6
    }
    metric("kernel.taat_ms_per_batch", Stats.median(taatMs), "ms")
    metric("kernel.taat_postings_per_s", ct.visitedDocs.value / (taatMs.head / 1e3), "1/s")
    meta("kernel.taat_batch_queries") = qs.length.toString
  }

  // ---- run ------------------------------------------------------------------

  private def gcTotals: (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat, when it exists:
    * CPU time the hypervisor gave to other guests, which inflates every
    * latency of the run without any change in the program.
    */
  private def cpuJiffies: Option[(Long, Long)] =
    scala.util.Try {
      val f = Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.take(8).sum)
    }.toOption

  /** Fixed CPU work through the task machinery, run once the JVM is warm;
    * recorded to flag a throttled host, never used to rescale anything.
    */
  private def canary(): Double = tracer.span("host.canary") {
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 24, 1L, o.cpus).select(sum(pmod(col("id"), lit(7)))).head()
    (System.nanoTime() - t0) / 1e9
  }

  /** GC (ms, count) spent in `body`, added to `acc`. */
  private def gcDuring[T](acc: Array[Long])(body: => T): T = {
    val (ms0, n0) = gcTotals
    try body
    finally {
      val (ms1, n1) = gcTotals
      acc(0) += ms1 - ms0
      acc(1) += n1 - n0
    }
  }

  def run(): Int = {
    deleteRec(o.work)
    Files.createDirectories(o.work)
    val tSession = System.nanoTime()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val jiffies0 = cpuJiffies
    log("session started")
    if (o.trace) {
      listener = new SchedListener(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
    }
    try {
      val gcSetup = Array(0L, 0L)
      val gcMeasured = Array(0L, 0L)
      var sv: Served = null
      (0 until w.setupReps).foreach { rep =>
        if (sv != null) discard(sv.dir)
        sv = gcDuring(gcSetup)(setupOnce(rep))
      }
      computeExpected()
      log("expected results computed")
      sampleGate(sv)
      measure(sv, 0.0, record = false)
      log("sample gate and warm-up done")
      gcDuring(gcMeasured)(measure(sv, o.seconds, record = true))
      val canaryS = canary()
      System.gc()
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

      log("measured phase done")
      if (o.trace) {
        traceOverhead(sv)
        lifecycle(sv)
        log("life cycle done")
        codecAndKernels(sv)
        log("codec and kernels done")
      }

      val st = Meta.readStats(sv.root)
      val bytes = Meta.byteSizes(sv.root)
      meta ++= Seq(
        "workload" -> w.name, "seed" -> o.seed.toString, "trace" -> (if (o.trace) "1" else "0"),
        "cpus" -> o.cpus.toString, "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
        "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
        "git_commit" -> o.gitCommit, "source_digest" -> o.sourceDigest,
        "n_docs" -> w.nDocs.toString, "input_bytes" -> inputBytes.toString,
        "pool_queries" -> pool.size.toString, "batch_queries" -> w.batch.toString,
        "setup_reps" -> w.setupReps.toString, "cds" -> o.cds, "session_start_s" -> f"$sessionS%.3f",
        "canary_s" -> f"$canaryS%.4f",
        "host.steal_frac" -> jiffies0.zip(cpuJiffies).map { case ((s0, t0), (s1, t1)) =>
          f"${(s1 - s0).toDouble / math.max(1L, t1 - t0)}%.4f" }.getOrElse("n/a"),
        "stats.nBuckets" -> st.nBuckets.toString, "stats.bucketSize" -> st.bucketSize.toString,
        "stats.totalPostings" -> st.totalPostings.toString, "stats.nTerms" -> st.nTerms.toString,
        "gc_ms.setup" -> gcSetup(0).toString, "gc_count.setup" -> gcSetup(1).toString,
        "gc_ms.measured" -> gcMeasured(0).toString, "gc_count.measured" -> gcMeasured(1).toString,
        "hits_digest" -> digest.digest().map(b => f"$b%02x").mkString)
      samples.foreach { case (n, v) => meta(s"samples.$n") = v.size.toString }

      endToEnd(heapMb, bytes)
      if (o.trace) perLayer(canaryS, gcMeasured, bytes)
      metric("failed_ops_frac", failed.toDouble / math.max(1L, attempted), "frac")

      report()
      if (o.trace) tracer.write(o.out.resolve("traces").resolve(s"${w.name}-seed${o.seed}.jsonl"))
      discard(sv.dir)
    } finally spark.stop()
    if (failed > 0) 1 else 0
  }

  // ---- metrics --------------------------------------------------------------

  private def endToEnd(heapMb: Double, bytes: Seq[(String, Long, Long)]): Unit = {
    metric("setup_s", Stats.median(samplesOf("setup_s")), "s")
    Seq("search" -> "search_ms", "hot" -> "hot_ms").foreach { case (n, s) =>
      metric(s"${n}_p50_ms", Stats.median(samplesOf(s)), "ms")
      metric(s"${n}_p95_ms", Stats.quantile(samplesOf(s), 0.95), "ms")
    }
    metric("batch_qps", w.batch * 1e3 / Stats.median(samplesOf("batch_ms")), "1/s")
    metric("build_docs_per_s", w.nDocs * 1e3 / Stats.median(samplesOf("build_ms")), "1/s")
    metric("index_bytes_per_input_byte", bytes.map(_._3).sum.toDouble / inputBytes, "B/B")
    metric("retained_heap_mb", heapMb, "MB")
  }

  private def perLayer(canaryS: Double, gcMeasured: Array[Long], bytes: Seq[(String, Long, Long)]): Unit = {
    def med(span: String) = Stats.median(tracer.durationsMs(span))
    Seq("searcher.plan", "searcher.dict", "catalyst.optimize", "catalyst.physical", "searcher.exec")
      .foreach(s => metric(s"${s}_ms", med(s), "ms"))

    val sw = sched("search")
    val n = math.max(1, sw.size).toDouble
    metric("spark.jobs_per_query", sw.map(_.jobs).sum / n, "count")
    metric("spark.stages_per_query", sw.map(_.stages).sum / n, "count")
    metric("spark.tasks_per_query", sw.map(_.tasks).sum / n, "count")
    metric("spark.task_run_ms_per_query", sw.map(_.taskRunMs).sum / n, "ms")
    metric("spark.sched_wait_ms_per_query", sw.map(_.schedWaitMs).sum / n, "ms")
    // the measured searches' executions alone, on both sides of the ratio
    val ew = sched("search.exec")
    metric("spark.task_busy_frac", ew.map(_.taskRunMs).sum / (samplesOf("search_exec_ms").sum * o.cpus), "frac")

    val fills = sched("hotfill")
    metric("hot.fill_ms", Stats.median(samplesOf("hot_fill_ms")), "ms")
    metric("hot.fill_jobs", fills.map(_.jobs).sum / math.max(1, fills.size).toDouble, "count")

    Seq("tokens", "doclens", "segments", "dict").foreach { st =>
      metric(s"build.${st}_ms", Stats.median(manifests.toSeq.map(_.filter(_.stage == st).map(_.elapsedMs.toDouble).sum)), "ms")
    }
    val bw = sched("build")
    val nb = math.max(1, bw.size).toDouble
    metric("build.jobs", bw.map(_.jobs).sum / nb, "count")
    metric("build.shuffle_write_bytes", bw.map(_.shuffleWriteBytes).sum / nb, "B")
    metric("build.shuffle_read_bytes", bw.map(_.shuffleReadBytes).sum / nb, "B")
    metric("build.spill_bytes", bw.map(_.spillBytes).sum / nb, "B")
    metric("build.task_skew", Stats.median(bw.map(_.worstStageSkew)), "ratio")
    bytes.foreach { case (c, _, b) => metric(s"build.bytes.$c", b.toDouble, "B") }

    metric("jvm.gc_ms", gcMeasured(0).toDouble, "ms")
    metric("jvm.gc_count", gcMeasured(1).toDouble, "count")
    metric("host.canary_s", canaryS, "s")
  }

  // ---- output ---------------------------------------------------------------

  private def report(): Unit = {
    val out = new StringBuilder
    out.append(s"== perfbench ${w.name} seed=${o.seed} trace=${if (o.trace) 1 else 0}\n")
    meta.foreach { case (key, v) => out.append(f"meta    $key%-34s $v\n") }
    metricsOut.foreach { case (n, (v, u)) => out.append(f"metric  $n%-36s ${Stats.fmt(v)}%22s $u\n") }
    if (o.trace) {
      out.append("layer self time (ms summed over the run's spans):\n")
      tracer.selfByName.foreach { case (n, ms, c) => out.append(f"  $n%-26s $ms%12.1f  spans=$c\n") }
      val parts = searchLayers.map(s => s -> Stats.median(tracer.durationsMs(s)))
      out.append(f"search p50 by layer (all traced searches): ${parts.map { case (n, v) => f"$n $v%.2f" }.mkString(" + ")}" +
        f" = ${parts.map(_._2).sum}%.2f ms\n")
      out.append(f"paired searches: the four layers cover ${metricsOut("trace.search_layers_vs_untraced_p50")._1}%.3f" +
        f" of the untraced p50 ${Stats.median(samplesOf("pair_untraced_ms"))}%.2f ms; tracing overhead" +
        f" ${metricsOut("trace.overhead_frac")._1 * 100}%.1f%%\n")
      val ew = sched("search.exec")
      val ne = math.max(1, ew.size).toDouble
      out.append(f"measured searches' execution: p50 ${Stats.median(samplesOf("search_exec_ms"))}%.2f ms," +
        f" mean ${samplesOf("search_exec_ms").sum / ne}%.2f ms; per query task run ${ew.map(_.taskRunMs).sum / ne}%.2f ms" +
        f" (summed over tasks), scheduling wait ${ew.map(_.schedWaitMs).sum / ne}%.2f ms\n")
    }
    failures.take(20).foreach(f => out.append(s"FAILED  $f\n"))
    out.append(s"attempted=$attempted failed=$failed\n")
    print(out)

    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val metricsJson = metricsOut.map { case (n, (v, u)) => s"${js(n)}:{\"value\":${Stats.fmt(v)},\"unit\":${js(u)}}" }
    val metaJson = meta.map { case (key, v) => s"${js(key)}:${js(v)}" }
    val samplesJson = samples.map { case (n, v) => s"${js(n)}:[${v.map(Stats.fmt).mkString(",")}]" }
    val result = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{${metricsJson.mkString(",")}}}"""
    val resDir = o.out.resolve("results")
    Files.createDirectories(resDir)
    Files.write(resDir.resolve(s"${w.name}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"),
      s"""{"meta":{${metaJson.mkString(",")}},"samples":{${samplesJson.mkString(",")}},"result":$result}""".getBytes(StandardCharsets.UTF_8))
    println(s"PERFBENCH_RESULT $result")
    System.out.flush()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(key, v) if key.startsWith("--") => key.drop(2) -> v }.toMap
    def req(key: String) = kv.getOrElse(key, throw new IllegalArgumentException(s"missing --$key"))
    val code =
      try {
        new Bench(Opts(
          workload = req("workload"), seed = req("seed").toLong, seconds = req("seconds").toInt,
          trace = req("trace") == "1", cpus = req("cpus").toInt,
          work = java.nio.file.Paths.get(req("work")).toAbsolutePath,
          out = java.nio.file.Paths.get(req("out")).toAbsolutePath,
          tiny = kv.get("tiny").contains("1"), corruptExpected = kv.get("corrupt-expected").contains("1"),
          gitCommit = kv.getOrElse("git-commit", "unknown"), sourceDigest = kv.getOrElse("source-digest", "unknown"),
          cds = kv.getOrElse("cds", "unknown"))).run()
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      }
    System.out.flush()
    System.exit(code)
  }
}
