package graft.bench

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, SegmentMerger}

/** Compaction-strategy benchmark: two same-geometry generations merged
  * via the bucket-aligned path vs the decode-and-rebuild path (identical
  * results — MergeSpec — so wall-clock is the whole story).
  *
  * Usage: runMain graft.bench.MergeBench [nDocsPerGen] [cpus]
  */
object MergeBench {

  private def deleteRec(p: java.io.File): Unit = {
    if (p.isDirectory) p.listFiles().foreach(deleteRec)
    p.delete()
  }

  def main(args: Array[String]): Unit = {
    val nPerGen = if (args.nonEmpty) args(0).toLong else 100000L
    val cpus = if (args.length > 1) args(1).toInt else 16
    val spark = graft.LocalSession(cpus, shufflePartitions = 64)
    import spark.implicits._

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val tmp = sys.props("java.io.tmpdir")
    val bucketSize = math.max(1L, (2 * nPerGen) / 32)
    def gen(tag: String, from: Long, until: Long): String = {
      val root = s"$tmp/graft-mergebench-$tag-$nPerGen"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_committed_dict"))) {
        val corpus = spark.range(from, until)
          .map(i => (i, CorpusGen.genDoc(42L, i).content)).toDF("doc_id", "content")
        IndexBuilder.build(spark, corpus, root,
          fixedBucketSize = bucketSize, knownNDocs = until - from)
      }
      root
    }
    val a = gen("a", 0L, nPerGen)
    val b = gen("b", nPerGen, 2 * nPerGen)

    val outA = s"$tmp/graft-mergebench-aligned-$nPerGen"
    val outR = s"$tmp/graft-mergebench-rebuild-$nPerGen"
    deleteRec(new java.io.File(outA)); deleteRec(new java.io.File(outR))
    val tAligned = time { SegmentMerger.mergeAligned(spark, Seq(a, b), outA) }
    val tRebuild = time { SegmentMerger.mergeRebuild(spark, Seq(a, b), outR) }
    val sA = graft.index.Meta.readStats(outA)
    val sR = graft.index.Meta.readStats(outR)
    require(sA.nDocs == sR.nDocs && sA.totalPostings == sR.totalPostings,
      s"strategy results disagree: $sA vs $sR")
    deleteRec(new java.io.File(outA)); deleteRec(new java.io.File(outR))
    println(s"""{"metric":"merge_strategies","n_docs":${2 * nPerGen},""" +
      s""""aligned_sec":$tAligned,"rebuild_sec":$tRebuild,""" +
      s""""speedup":${tRebuild / tAligned}}""")
    spark.stop()
  }
}
