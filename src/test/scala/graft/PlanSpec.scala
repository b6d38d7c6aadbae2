package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen
import graft.index.IndexBuilder
import graft.ops.{Fulltext, Relational}

/** Physical-plan shape assertions — the 100 TB questions asked of the
  * small-scale plans: do filters reach the Parquet scan, is column
  * pruning in effect, are small dims broadcast, is aggregation partial?
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("postings scan pushes the term filter into Parquet (pruned read)") {
    val root = Files.createTempDirectory("graft-plan-").toString
    val indexed = spark.range(0, 100).map(i => (i, CorpusGen.genDoc(42L, i).content))
      .toDF("doc_id", "content")
    IndexBuilder.build(spark, indexed, root, targetBuckets = 2)
    val read = spark.read.parquet(IndexBuilder.Layout(root).segments)
      .where(col("term").isin("def", "id0"))
    val plan = planOf(read)
    assert(plan.contains("PushedFilters: [In(term"), s"no term pushdown in:\n$plan")
  }

  test("bucket partition column prunes segment directories") {
    val root = Files.createTempDirectory("graft-plan2-").toString
    val indexed = spark.range(0, 100).map(i => (i, CorpusGen.genDoc(42L, i).content))
      .toDF("doc_id", "content")
    IndexBuilder.build(spark, indexed, root, targetBuckets = 4)
    val read = spark.read.parquet(IndexBuilder.Layout(root).segments)
      .where(col("bucket") === 1)
    val plan = planOf(read)
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"),
      s"no partition pruning in:\n$plan")
  }

  test("q3 broadcasts the filtered customer dim") {
    val plan = planOf(Relational.q3TopRevenue(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("q1 aggregation is map-side partial") {
    val plan = planOf(Relational.q1Agg(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("partial_"), s"no partial aggregation in:\n$plan")
  }

  test("ft_df column-prunes the documents scan to (doc_id, text)") {
    val plan = planOf(Fulltext.dfTable(spark, "/root/testdata/sf0.001"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text"), s"text column missing: $readSchema")
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"unpruned columns read: $readSchema")
  }

  test("bm25 top-k plans as TakeOrderedAndProject (partial top-k + ordered merge)") {
    val plan = planOf(Fulltext.bm25TopK(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject in:\n$plan")
  }

  test("ranked string search plans as TakeOrderedAndProject over a broadcast query") {
    val plan = planOf(graft.ops.TextAnalysis.stringKnn(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject in:\n$plan")
    assert(plan.contains("Broadcast"), s"query string not broadcast:\n$plan")
  }

  test("batched kNN partial-aggregates the bounded top-k map-side") {
    val plan = planOf(graft.ops.Similarity.knnExactMany(spark, "/root/testdata/sf0.001"))
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial mode before the query_id shuffle — the shuffle carries
    // O(queries × partitions × k) buffers, not the scored rows
    assert(plan.contains("ObjectHashAggregate"), s"no ObjectHashAggregate in:\n$plan")
    assert(plan.contains("partial_topkagg"), s"no partial TopKAgg in:\n$plan")
  }

  test("hybrid RRF: vector source partial-aggregates map-side, query vectors broadcast") {
    val plan = planOf(graft.ops.Hybrid.rrfMany(spark, "/root/testdata/sf0.001"))
    // the embeddings scan is reduced to O(queries × partitions × depth)
    // buffers BEFORE any shuffle, and the query vectors ride a broadcast —
    // the corpus-sized side is never shuffled for the fusion
    assert(plan.contains("partial_topkagg"), s"no partial TopKAgg in:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"query vectors not broadcast in:\n$plan")
  }

  test("searchMany's global merge partial-aggregates per query (no window sort)") {
    val root = Files.createTempDirectory("graft-plan3-").toString
    val indexed = spark.range(0, 100).map(i => (i, CorpusGen.genDoc(42L, i).content))
      .toDF("doc_id", "content")
    IndexBuilder.build(spark, indexed, root, targetBuckets = 2)
    val plan = planOf(new graft.index.Searcher(spark, root)
      .searchMany(CorpusGen.querySet(5), 10))
    assert(plan.contains("partial_topkagg"), s"no partial TopKAgg merge in:\n$plan")
    assert(!plan.contains("WindowExec"), s"per-query merge still a window:\n$plan")
  }

  test("search is shuffle-free: no exchange, no segments or doclens scan, a top-k merge") {
    val root = Files.createTempDirectory("graft-plan4-").toString
    val indexed = spark.range(0, 100).map(i => (i, CorpusGen.genDoc(42L, i).content))
      .toDF("doc_id", "content")
    IndexBuilder.build(spark, indexed, root, targetBuckets = 2)
    val plan = planOf(new graft.index.Searcher(spark, root).search("def id0", 10))
    // each bucket task point-reads its own postings and norms: no table
    // is scanned by the plan, nothing shuffles, and the merge is the
    // partial top-k + ordered driver merge
    assert(!plan.contains("Exchange"), s"exchange in:\n$plan")
    assert(!plan.contains("FileScan") && !plan.contains("segments") && !plan.contains("doclens"),
      s"index table scanned in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject in:\n$plan")
  }

  test("multi-generation search is ONE top-k merge over every generation's buckets") {
    def generation(from: Long, until: Long): String = {
      val root = Files.createTempDirectory("graft-plan5-").toString
      val indexed = spark.range(from, until).map(i => (i, CorpusGen.genDoc(42L, i).content))
        .toDF("doc_id", "content")
      IndexBuilder.build(spark, indexed, root, targetBuckets = 2)
      root
    }
    val plan = planOf(new graft.index.MultiSearcher(spark, Seq(generation(0, 50),
      generation(50, 100))).search("def id0", 10))
    // the generations' per-bucket hits union under the merge one index
    // runs: no per-generation top-k beneath it, nothing shuffled
    assert(!plan.contains("Exchange"), s"exchange in:\n$plan")
    assert("TakeOrderedAndProject".r.findAllMatchIn(plan).size == 1,
      s"not exactly one top-k merge in:\n$plan")
  }

  test("hot terms are bucket-salted: posting-row size is bounded by bucket width") {
    // a term in EVERY doc ("def" is in every generated doc) must be split
    // into one posting row per docId-bucket — no task ever materializes a
    // whole hot-term posting list (the SURVEY §7.5.2 skew answer)
    val root = Files.createTempDirectory("graft-skew-").toString
    val indexed = spark.range(0, 200).map(i => (i, CorpusGen.genDoc(9L, i).content))
      .toDF("doc_id", "content")
    val stats = IndexBuilder.build(spark, indexed, root, targetBuckets = 8)
    val rows = spark.read.parquet(IndexBuilder.Layout(root).segments)
      .where(col("term") === "def")
      .select(col("bucket"), col("df"))
      .as[(Int, Long)].collect()
    assert(rows.length == 8, s"hot term not present in all 8 buckets: ${rows.toSeq}")
    val maxRow = rows.map(_._2).max
    assert(maxRow <= stats.bucketSize,
      s"posting row ($maxRow docs) exceeds bucket width ${stats.bucketSize}")
  }

  test("centroid assignment partial-aggregates the argmin map-side") {
    val plan = planOf(graft.ops.Similarity.clusterAssign(spark, "/root/testdata/sf0.001"))
    // min(struct(dist, cid)) partial-combines before the vec_id shuffle —
    // the row_number window this replaced shuffled the full cross product
    assert(plan.contains("partial_min"), s"no partial min-struct argmin in:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Window "),
      s"argmin still planned as a window:\n$plan")
  }

  test("IVF probe reads only the probed cells (partition pruning on cid)") {
    graft.ops.Similarity.ivfIndexFor(spark, "/root/testdata/sf0.001", nlist = 8)
    val plan = planOf(
      graft.ops.Similarity.ivfKnn(spark, "/root/testdata/sf0.001", nlist = 8, nprobe = 2))
    assert(plan.contains("PartitionFilters: [cid"),
      s"no cid partition pruning in:\n$plan")
  }

  test("near-dup keep-best: quality argmax partial-aggregates, no corpus window") {
    val plan = planOf(graft.ops.Dedup.neardupKeepBest(spark, "/root/testdata/sf0.001"))
    // min(struct(-quality_bp, doc_id)) partial-combines per group before
    // the group_id shuffle; a row_number window here would single-task
    // the largest near-dup group at scale
    assert(plan.contains("partial_min"), s"no partial min-struct argmax in:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Window "),
      s"keep-best argmax planned as a window:\n$plan")
  }

  test("grouped top-N collapse partial-aggregates the bounded per-group top-k") {
    val plan = planOf(graft.ops.Fulltext.engCollapseTop(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("partial_topkagg"), s"no partial TopKAgg in:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Window "),
      s"grouped top-N planned as a window over the full hit set:\n$plan")
  }

  test("IVF-PQ candidate read partition-prunes to the probed cells; ADC tables broadcast") {
    val plan = planOf(graft.ops.Similarity.ivfPqKnn(spark, "/root/testdata/sf0.001"))
    assert(plan.contains("PartitionFilters: [cid"),
      s"no cid partition pruning in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"ADC lookup tables not broadcast:\n$plan")
  }

  test("quality median: every window is lang-partitioned over the bounded histogram") {
    val plan = planOf(graft.ops.TextAnalysis.qualityMedian(spark, "/root/testdata/sf0.001"))
    // the scale-killer signature would be a window whose input is raw
    // docs (ordered by doc_id) or an UNPARTITIONED ordering; both
    // windows here ride the ≤10001-row (lang, quality_bp) histogram
    assert(plan.contains("windowspecdefinition(lang"),
      s"expected lang-partitioned windows in:\n$plan")
    assert(!plan.matches("(?s).*windowspecdefinition\\((?!lang).*"),
      s"found a window not partitioned by lang in:\n$plan")
    assert(!plan.matches("(?s).*windowspecdefinition\\(lang#\\d+, doc_id.*"),
      s"window runs over raw docs, not the histogram:\n$plan")
  }

  test("sessionize and as-of: windows are user-partitioned; no join in the as-of plan") {
    val sess = planOf(Relational.qSessionize(spark, "/root/testdata/sf0.001"))
    assert(sess.contains("windowspecdefinition(user_id"),
      s"sessionize window not user-partitioned:\n$sess")
    val asof = planOf(Relational.qEventsAsof(spark, "/root/testdata/sf0.001"))
    assert(asof.contains("windowspecdefinition(user_id"),
      s"as-of window not user-partitioned:\n$asof")
    assert(!asof.contains("Join"), s"as-of planned a join:\n$asof")
  }

  test("boilerplate/decontaminate gram aggregations are map-side partial") {
    val boil = planOf(graft.ops.TextAnalysis.boilerplate(spark, "/root/testdata/sf0.001"))
    assert(boil.contains("partial_count") || boil.contains("partial_sum"),
      s"no partial aggregation in boilerplate plan:\n$boil")
    assert(!boil.contains("WindowExec"), s"boilerplate planned a window:\n$boil")
  }
}
