package graft

import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, Searcher}

/** Driver benchmark: runs the headline queries at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Also times the engine itself: a fresh inverted-
  * index build over the documents table (files/sec) and the 50-query
  * reference set answered in one batch pass (q/s) — the rebuild analogs
  * of the reference's add/search QPS table
  * (/root/reference/BENCHMARKS.md:19-49; see BASELINE.md).
  *
  * Throttle-proofing (the host is a noisy VM whose wall-clock swings
  * up to 10× between minutes — two recorded rounds were poisoned by
  * one bad window each):
  *   - every entry runs SPARK_GRAFT_BENCH_REPS (default 3) times in
  *     INTERLEAVED sweeps (rep 1 of all entries, then rep 2, ...) and the
  *     recorded value is the per-entry BEST — a throttle window must span
  *     every sweep to poison an entry;
  *   - each sweep starts with a fixed-work CANARY job; the per-sweep
  *     canary times are recorded in the JSON, so a contaminated sweep is
  *     self-flagging (canary_spread ≫ 1 → distrust the totals, trust the
  *     per-entry bests);
  *   - the sequential-latency loop runs one UNTIMED query first so the
  *     cacheHot searcher's one-time dictionary materialization is not
  *     charged to the first timed queries, and p50/p95 come from
  *     per-query bests across sweeps (steady-state serving latency).
  */
object Bench {

  private def deleteRec(p: java.io.File): Unit = {
    if (p.isDirectory) p.listFiles().foreach(deleteRec)
    p.delete()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = LocalSession(cpus)

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    // fixed-work canary: ~1 s of pure CPU through the whole Spark task
    // machinery; identical every sweep, so its spread measures the HOST,
    // not the engine
    def canary(): Double = time {
      spark.range(0L, 1L << 29, 1L, cpus)
        .select(sum(pmod(col("id"), lit(7)))).head()
    }

    // pre-build the on-disk indexes the eng_*/sim_ivf entries reuse, so
    // their per-query timings measure QUERIES — round 1 charged a one-time
    // index build to whichever eng_* entry ran first alphabetically
    val prewarmSec = time {
      graft.ops.Fulltext.indexFor(spark, sfDir)
      graft.ops.Fulltext.engBm25MultiGen(spark, sfDir).collect()
      graft.ops.Similarity.ivfIndexFor(spark, sfDir)
      graft.ops.Similarity.semJoinIvfFor(spark, sfDir)
    }

    // JIT warmup, untimed: the first timed entries otherwise absorb C2
    // compilation of the Catalyst/codegen/Parquet stack (measured on this
    // box: dd_simhash 10.9 s first-run vs 2.1 s warm at sf0.01). Two cheap
    // representative plans touch the scan+agg and tokenize paths.
    Seq("q1_agg", "ta_tokcount").foreach(n => SparkEntry.queries(n)(spark, sfDir).collect())
    spark.catalog.clearCache()

    // relational + pipeline queries (collect forces the full plan), best
    // of `reps` interleaved sweeps. Caches an op creates are dropped
    // BETWEEN entries: round 2 let the dedup shingle/signature caches stay
    // resident through the whole alphabetical sweep, so every later entry
    // ran under cache pressure and the recorded numbers misstated the
    // engine by 3-14× (round-2 verdict). Each entry pays its own real
    // cost and nothing else's, every sweep.
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    best("eng_index_prewarm") = prewarmSec
    val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    val entries = SparkEntry.queries.toSeq.sortBy(_._1)
    for (_ <- 1 to reps) {
      canaries += canary()
      entries.foreach { case (name, fn) =>
        val t = time { fn(spark, sfDir).collect() }
        spark.catalog.clearCache()
        if (!best.contains(name) || t < best(name)) best(name) = t
      }
    }

    // engine: fresh build over the documents table → files/sec (best of
    // 2 — a build is too expensive to sweep 3×, and two spaced attempts
    // already dodge a single throttle window)
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = docsDf.count()
    val buildReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUILD_REPS", "2").toInt
    var benchRoot: String = null
    var tBuild = Double.MaxValue
    for (_ <- 1 to buildReps) {
      val root = s"${sys.props("java.io.tmpdir")}/graft-bench-${System.nanoTime()}"
      val t = time {
        IndexBuilder.build(spark, docsDf, root, idCol = "doc_id", textCol = "text")
      }
      if (t < tBuild) tBuild = t
      if (benchRoot != null) deleteRec(new java.io.File(benchRoot))
      benchRoot = root
    }
    best("eng_build_index") = tBuild

    // engine: 50-query reference set in one batch pass → q/s
    val searcher = new Searcher(spark, benchRoot, cacheHot = true)
    val queries = CorpusGen.querySet(50).map { case (id, q) => (id, q + " spark merge table") }
    var tBatch = Double.MaxValue
    for (_ <- 1 to reps)
      tBatch = math.min(tBatch, time { searcher.searchMany(queries, 10).collect() })
    best("eng_search_50q_batch") = tBatch

    // engine: single-query latency (separate jobs per query), all 50
    // queries; one untimed query first absorbs the hot-dictionary load,
    // per-query best across sweeps → steady-state p50/p95
    searcher.search(queries.head._2, 10).collect()
    val singleBest = Array.fill(queries.size)(Double.MaxValue)
    for (_ <- 1 to reps) {
      var i = 0
      queries.foreach { case (_, q) =>
        singleBest(i) = math.min(singleBest(i), time { searcher.search(q, 10).collect() })
        i += 1
      }
    }
    val sortedSingles = singleBest.sorted
    best("eng_search_50q_sequential") = sortedSingles.sum
    val p50 = sortedSingles(sortedSingles.length / 2)
    val p95 = sortedSingles(math.min(sortedSingles.length - 1, (sortedSingles.length * 95) / 100))

    // serving mode: driver-side hot WAND (zero Spark jobs per warm
    // query) — rep 1 pays the per-term posting fetches, later reps are
    // fully resident, so per-query bests measure warm serving latency
    searcher.searchHot(queries.head._2, 10)
    val hotBestT = Array.fill(queries.size)(Double.MaxValue)
    for (_ <- 1 to reps) {
      var i = 0
      queries.foreach { case (_, q) =>
        hotBestT(i) = math.min(hotBestT(i), time { searcher.searchHot(q, 10) })
        i += 1
      }
    }
    val hotSorted = hotBestT.sorted
    best("eng_search_50q_hot") = hotSorted.sum
    val hotP50 = hotSorted(hotSorted.length / 2)
    val hotP95 = hotSorted(math.min(hotSorted.length - 1, (hotSorted.length * 95) / 100))

    deleteRec(new java.io.File(benchRoot))

    val qs = best.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = best.values.sum
    val buildFps = nDocs / tBuild
    val batchQps = 50.0 / tBatch
    val canaryArr = canaries.mkString("[", ",", "]")
    val canarySpread = if (canaries.nonEmpty) canaries.max / canaries.min else 1.0
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""build_files_per_sec":$buildFps,"batch_queries_per_sec":$batchQps,""" +
        s""""query_latency_p50_sec":$p50,"query_latency_p95_sec":$p95,""" +
        s""""hot_latency_p50_sec":$hotP50,"hot_latency_p95_sec":$hotP95,""" +
        s""""hot_queries_per_sec":${queries.size.toDouble / hotSorted.sum},""" +
        s""""reps":$reps,"canary_secs":$canaryArr,"canary_spread":$canarySpread,""" +
        s""""n_docs":$nDocs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
