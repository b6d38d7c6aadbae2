package graft

/** Dev tool: time one named SparkEntry query.
  * Usage: runMain graft.TimeOne <queryName> [sfDir] [cpus]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2).toInt else 32
    val spark = LocalSession(cpus)
    val fn = SparkEntry.queries(name)
    // warm-up run then timed run (SPARK_GRAFT_NOWARM=1 to measure cold)
    if (!sys.env.contains("SPARK_GRAFT_NOWARM")) fn(spark, sfDir).collect()
    val t0 = System.nanoTime()
    val n = fn(spark, sfDir).collect().length
    println(f"TIMED $name rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    spark.stop()
  }
}

/** Dev tool: dump `.explain("formatted")` for named SparkEntry queries.
  * Usage: runMain graft.PlanDump <out_dir> <suffix> <q1,q2,...|all> [sfDir] [cpus]
  * Writes <out_dir>/<query>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 4) args(4).toInt else 32
    val spark = LocalSession(cpus)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
      try w.write(plan) finally w.close()
      println(s"dumped $name")
    }
    spark.stop()
  }
}

/** Dev tool: noop-sink isolated timings (guide §1.4) for named queries —
  * NOT the frozen bench; numbers are cited in OPTIMIZATION_r06.md only.
  * Usage: runMain graft.BenchExtra <q1,q2,...> [sfDir] [cpus] [reps]
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2).toInt else 32
    val reps = if (args.length > 3) args(3).toInt else 3
    val spark = LocalSession(cpus)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // same prewarm as Bench so eng_*/sim_ivf entries measure queries
    graft.ops.Fulltext.indexFor(spark, sfDir)
    graft.ops.Fulltext.engBm25MultiGen(spark, sfDir).collect()
    graft.ops.Similarity.ivfIndexFor(spark, sfDir)
    graft.ops.Similarity.semJoinIvfFor(spark, sfDir)
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (_ <- 1 to reps) {
      names.foreach { name =>
        spark.sparkContext.setJobDescription(name)
        val t = time {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
        spark.catalog.clearCache()
        if (!best.contains(name) || t < best(name)) best(name) = t
      }
    }
    best.foreach { case (n, t) => println(f"NOOP $n sec=$t%.3f") }
    spark.stop()
  }
}

/** Dev tool: time the four prewarm components individually (cold JVM,
  * fresh caches expected — rm /tmp/graft-* first for a true cold run).
  */
object TimePrewarm {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 1) args(1).toInt else 32
    val spark = LocalSession(cpus)
    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"PREWARM $name sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    time("indexFor") { graft.ops.Fulltext.indexFor(spark, sfDir) }
    time("bm25MultiGen") { graft.ops.Fulltext.engBm25MultiGen(spark, sfDir).collect() }
    time("ivfIndexFor") { graft.ops.Similarity.ivfIndexFor(spark, sfDir) }
    time("semJoinIvfFor") { graft.ops.Similarity.semJoinIvfFor(spark, sfDir) }
    spark.stop()
  }
}
