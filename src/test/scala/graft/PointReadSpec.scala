package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

import graft.corpus.CorpusGen
import graft.index.{DictRow, DocLenRow, IndexBuilder, MultiSearcher, Searcher}

/** The driver-side dictionary point read and the per-bucket seam: point
  * reads equal the Spark reads, a damaged index fails loudly instead of
  * returning short results, concurrent searches stay bit-identical, and
  * a search costs one Spark job with one task per touched bucket.
  */
class PointReadSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(from: Long, until: Long): DataFrame =
    spark.range(from, until).map(i => (i, CorpusGen.genDoc(42L, i).content))
      .toDF("doc_id", "content")

  private def build(from: Long, until: Long, buckets: Int): String = {
    val root = Files.createTempDirectory("graft-point-").toString
    IndexBuilder.build(spark, corpus(from, until), root, targetBuckets = buckets)
    root
  }

  private lazy val root = build(0, 200, 4)
  private val queries = CorpusGen.querySet(12)

  private def hits(df: DataFrame): Seq[(Long, Double)] = df.as[(Long, Double)].collect().toSeq

  /** Replaces the table at `path` with `rows` (written beside it first:
    * the rows are read from the table being replaced).
    */
  private def rewrite(path: String, rows: DataFrame): Unit = {
    val tmp = path + "-rewrite"
    rows.write.mode(SaveMode.Overwrite).parquet(tmp)
    deleteTree(Path.of(path))
    Files.move(Path.of(tmp), Path.of(path))
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  private def copyIndex(src: String): String = {
    val dst = Files.createTempDirectory("graft-point-copy-")
    val s = Files.walk(Path.of(src))
    try s.forEach { f =>
      val to = dst.resolve(Path.of(src).relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
    } finally s.close()
    dst.toString
  }

  /** (jobs, tasks) of the Spark jobs started by `f` on this thread. */
  private def jobsAndTasksOf[T](f: => T): (Int, Int) = {
    val group = s"graft-point-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          tasks.addAndGet(e.stageInfos.map(_.numTasks).sum)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try { f; org.apache.spark.graft.ListenerBusDrain(sc); (jobs.get(), tasks.get()) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  private def jobsOf[T](f: => T): Int = jobsAndTasksOf(f)._1

  /** `f` fails a Spark job with a cause whose message contains `msg`. */
  private def failsWith(msg: String)(f: => Any): Unit = {
    val e = intercept[SparkException](f)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains(msg)), s"unexpected failure: $e")
  }

  /** The data file of `table`'s bucket directory `bucket` that holds `term`. */
  private def fileHolding(table: String, bucket: Int, term: String): Path = {
    val s = Files.list(Path.of(table, s"bucket=$bucket"))
    val files = try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    finally s.close()
    files.find(f => spark.read.parquet(f.toString).where(col("term") === term).count() > 0)
      .getOrElse(fail(s"no file of $table/bucket=$bucket holds '$term'"))
  }

  test("dictionary point read equals the Spark dictionary read") {
    val all = spark.read.parquet(IndexBuilder.Layout(root).dict).as[DictRow].collect()
    val terms = all.map(_.term).sorted
    val ask = terms.filter(_.hashCode % 3 == 0).toSeq ++ Seq("zz-absent", terms.head, terms.last)
    val got = new Searcher(spark, root).dictRows(ask)
    val want = all.filter(d => ask.contains(d.term)).map(d => d.term -> d).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (t, d) =>
      val g = got(t)
      assert(g.df == d.df && g.maxTfNorm == d.maxTfNorm && g.buckets.sameElements(d.buckets), t)
    }
  }

  /** The terms of each non-empty data file of the dictionary at `root`. */
  private def dictFileTerms(root: String): Seq[Seq[String]] = {
    val s = Files.list(Path.of(IndexBuilder.Layout(root).dict))
    val files = try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
    finally s.close()
    files.map(f => spark.read.parquet(f.toString).select("term").as[String].collect().sorted.toSeq)
      .filter(_.nonEmpty)
  }

  test("the dictionary key-range read equals the Spark startsWith read, with no job") {
    // the builder's dictionary layout, cut into 4 range partitions
    val multi = copyIndex(root)
    val dictPath = IndexBuilder.Layout(multi).dict
    rewrite(dictPath, spark.read.parquet(dictPath).repartitionByRange(4, col("term"))
      .sortWithinPartitions(col("term")))
    val s = new Searcher(spark, multi)
    val dict = spark.read.parquet(dictPath)
    val files = dictFileTerms(multi)
    assert(files.size == 4, "fixture: the dictionary should span 4 files")
    // a prefix of both the last term of one file and the first of another
    val crossing = files.flatMap(a => files.map(b => (a.last, b.head)))
      .map { case (x, y) => x.zip(y).takeWhile(c => c._1 == c._2).map(_._1).mkString }
      .find(p => p.nonEmpty && files.count(_.exists(_.startsWith(p))) > 1)
      .getOrElse(fail("fixture: no prefix crosses a file boundary"))
    val terms = files.flatten.sorted
    val whole = terms.find(t => terms.exists(u => u != t && u.startsWith(t)))
      .getOrElse(fail("fixture: no term is a prefix of another"))
    for (p <- Seq(crossing, whole, "zzq", terms.head, terms.last)) {
      val want = dict.where(col("term").startsWith(p)).select("term", "df").as[(String, Long)]
        .collect().sortBy(_._1).toSeq
      var got = Seq.empty[(String, Long)]
      val jobs = jobsOf {
        got = s.termsEnum(Seq(0 -> p), Int.MaxValue).as[(Int, String, Long)].collect()
          .map(r => (r._2, r._3)).toSeq
      }
      assert(got == want, s"prefix '$p'")
      assert(jobs == 0, s"termsEnum('$p') ran $jobs Spark jobs")
      // the read stops at the limit: in the first file, at its end, past it
      val inFirst = files.sortBy(_.head).map(_.count(_.startsWith(p))).find(_ > 0).getOrElse(0)
      for (n <- Seq(1, inFirst, inFirst + 1).distinct if n > 0 && n <= want.size) {
        val firstN = s.termsEnum(Seq(0 -> p), n).as[(Int, String, Long)].collect()
          .map(r => (r._2, r._3)).toSeq
        assert(firstN == want.take(n), s"prefix '$p', first $n")
      }
    }
    // files with overlapping key ranges: no key order to stop in, so the
    // whole range is read and the first `n` terms are still the least
    rewrite(dictPath, spark.read.parquet(dictPath).repartition(4, col("df"))
      .sortWithinPartitions(col("term")))
    val ranges = dictFileTerms(multi).map(f => (f.head, f.last)).sorted
    assert(ranges.zip(ranges.drop(1)).exists { case (a, b) => a._2 >= b._1 },
      "fixture: the rewritten dictionary files should overlap")
    val overlapping = new Searcher(spark, multi)
    val p = crossing.take(1)
    val want = spark.read.parquet(dictPath).where(col("term").startsWith(p)).select("term", "df").as[(String, Long)]
      .collect().sortBy(_._1).toSeq
    for (n <- Seq(1, 3, want.size, Int.MaxValue)) {
      val got = overlapping.termsEnum(Seq(0 -> p), n).as[(Int, String, Long)].collect()
        .map(r => (r._2, r._3)).toSeq
      assert(got == want.take(n), s"overlapping files, prefix '$p', first $n")
    }
  }

  test("a headed prefix, wildcard or regexp search runs one job; termsEnum runs none") {
    val dir = Files.createTempDirectory("graft-point-expand-").toString
    val docs = Seq("merge the scan", "make a sort", "spark stream mode", "merge sort scan", "mere slow")
    IndexBuilder.build(spark, docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }
      .toDF("doc_id", "content"), dir, targetBuckets = 2)
    val s = new Searcher(spark, dir)
    Seq[(String, () => DataFrame)](
      "searchPrefix(s)" -> (() => s.searchPrefix("s", 10)),
      "searchWildcard(m*e)" -> (() => s.searchWildcard("m*e", 10)),
      "searchRegexp(s(can|ort|park))" -> (() => s.searchRegexp("s(can|ort|park)", 10))
    ).foreach { case (what, q) =>
      assert(q().count() > 0, s"fixture: $what finds nothing")
      val n = jobsOf(q().collect())
      assert(n == 1, s"$what ran $n jobs")
    }
    val n = jobsOf(s.termsEnum(Seq(0 -> "s", 1 -> "ma"), 8).collect())
    assert(n == 0, s"termsEnum ran $n jobs")
  }

  test("an old-format dictionary raises the rebuild message from the expanding modes") {
    val old = copyIndex(root)
    val dictPath = IndexBuilder.Layout(old).dict
    rewrite(dictPath, spark.read.parquet(dictPath).drop("buckets"))
    val s = new Searcher(spark, old)
    Seq[() => Any](() => s.searchPrefix("de", 10), () => s.searchWildcard("*ef", 10),
      () => s.termsEnum(Seq(0 -> "d"), 5)).foreach { f =>
      val e = intercept[IllegalStateException](f())
      assert(e.getMessage.contains("delete the index root and rebuild"), e.getMessage)
    }
  }

  test("a bucket without its doclens row fails search, searchMany and searchBool loudly") {
    val damaged = copyIndex(root)
    val dlPath = IndexBuilder.Layout(damaged).doclens
    val victim = spark.read.parquet(dlPath).select(col("bucket")).as[Int].collect().max
    rewrite(dlPath, spark.read.parquet(dlPath).where(col("bucket") =!= victim))
    // "def" is in every generated doc, so it posts in every bucket
    val s = new Searcher(spark, damaged)
    def failsLoudly(f: => Any): Unit = failsWith("postings but no doclens row")(f)
    failsLoudly(s.search("def", 10).collect())
    failsLoudly(s.searchMany(Seq(0 -> "def", 1 -> "id0"), 10).collect())
    failsLoudly(s.searchBool(10, must = "def").collect())
  }

  test("a doc missing from its bucket's doclens row fails every kernel with one message") {
    val damaged = copyIndex(root)
    val dlPath = IndexBuilder.Layout(damaged).doclens
    val bucket = spark.read.parquet(dlPath).select(col("bucket")).as[Int].collect().max
    // "def" is in every generated doc, so the dropped doc has postings
    val victim = spark.read.parquet(dlPath).as[DocLenRow].collect()
      .find(_.bucket == bucket).get.docIds.head
    rewrite(dlPath, spark.read.parquet(dlPath).as[DocLenRow].map(r =>
      if (r.bucket != bucket) r else r.copy(docIds = r.docIds.tail, lens = r.lens.tail)).toDF())
    val s = new Searcher(spark, damaged)
    def failsAttributed(f: => Any): Unit = failsWith(
      s"doc $victim has postings but no doclens entry (bucket $bucket)")(f)
    failsAttributed(s.searchExact("def", 10).collect())
    failsAttributed(s.searchSynonym(Seq(Seq("def")), 10).collect())
    failsAttributed(s.searchSortedByLen("def", 10).collect())
    failsAttributed(s.searchConjunctiveMany(Seq(0 -> "def"), 10).collect())
  }

  test("an old-format dictionary (no bucket lists) raises the rebuild message") {
    val old = copyIndex(root)
    val dictPath = IndexBuilder.Layout(old).dict
    rewrite(dictPath, spark.read.parquet(dictPath).drop("buckets"))
    val s = new Searcher(spark, old)
    val e = intercept[IllegalStateException](s.search("def", 10))
    assert(e.getMessage.contains("delete the index root and rebuild"), e.getMessage)
  }

  test("concurrent search and MultiSearcher.search equal the sequential results") {
    val genA = build(0, 100, 3)
    val genB = build(100, 200, 2)
    val s = new Searcher(spark, root)
    val ms = new MultiSearcher(spark, Seq(genA, genB))
    val want = queries.map { case (_, q) => q -> hits(s.search(q, 10)) }.toMap
    val wantMulti = queries.map { case (_, q) => q -> hits(ms.search(q, 10)) }.toMap
    assert(want == wantMulti, "fixture: multi-generation search differs from the single index")
    val pool = Executors.newFixedThreadPool(9)
    try {
      val searches = (0 until 8).map { t =>
        pool.submit(new Callable[Seq[(String, Seq[(Long, Double)])]] {
          override def call() = queries.indices.map { i =>
            val q = queries((i + t) % queries.size)._2
            q -> hits(s.search(q, 10))
          }
        })
      }
      val multi = pool.submit(new Callable[Seq[(String, Seq[(Long, Double)])]] {
        override def call() = queries.map { case (_, q) => q -> hits(ms.search(q, 10)) }
      })
      (searches :+ multi).flatMap(_.get(10, TimeUnit.MINUTES)).foreach { case (q, got) =>
        assert(got == want(q), s"concurrent result differs for '$q'")
      }
    } finally pool.shutdownNow()
  }

  test("a lost segment or positions file fails search, searchMany, searchBool, phraseMany") {
    val damaged = copyIndex(root)
    IndexBuilder.buildPositions(spark, corpus(0, 200), damaged)
    val layout = IndexBuilder.Layout(damaged)
    // "def" is in every generated doc, so every bucket lists it
    val bucket = new Searcher(spark, damaged).dictRows(Seq("def"))("def").buckets.head
    Files.delete(fileHolding(layout.segments, bucket, "def"))
    Files.delete(fileHolding(layout.positions, bucket, "def"))
    val s = new Searcher(spark, damaged)
    def lost(table: String) =
      s"dictionary lists term def in bucket $bucket but $table hold 0 rows"
    failsWith(lost("segments"))(s.search("def", 10).collect())
    failsWith(lost("segments"))(s.searchMany(Seq(0 -> "def", 1 -> "id0"), 10).collect())
    failsWith(lost("segments"))(s.searchBool(10, must = "def").collect())
    failsWith(lost("positions"))(s.phraseMany(Seq(0 -> "def")).collect())
  }

  test("dictRows runs no Spark job; a search runs exactly one") {
    val s = new Searcher(spark, root)
    val terms = queries.flatMap { case (_, q) => graft.analyze.Tokenizer.tokenize(q) }.distinct
    assert(jobsOf(s.dictRows(terms)) == 0)
    val (_, q) = queries.head
    s.search(q, 10).collect() // first touch lists the bucket directories
    val n = jobsOf(s.search(q, 10).collect())
    assert(n == 1, s"search ran $n jobs")
  }

  test("a search runs one task per bucket its terms are listed in") {
    val s = new Searcher(spark, root)
    val dict = spark.read.parquet(IndexBuilder.Layout(root).dict).as[DictRow].collect()
    val single = dict.find(_.buckets.length == 1).getOrElse(fail("no single-bucket term"))
    val all = dict.find(_.term == "def").get
    assert(all.buckets.length == 4, "fixture: 'def' should post in all 4 buckets")
    for (d <- Seq(single, all)) {
      s.search(d.term, 10).collect()
      val (jobs, tasks) = jobsAndTasksOf(s.search(d.term, 10).collect())
      assert(jobs == 1 && tasks == d.buckets.length,
        s"'${d.term}' (${d.buckets.length} buckets) ran $jobs jobs, $tasks tasks")
    }
  }

  test("awaitAll awaits every thunk, rethrows the first cause, suppresses the rest") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalArgumentException] {
      IndexBuilder.awaitAll(Seq(
        () => throw new IllegalArgumentException("first"),
        () => { Thread.sleep(200); done.set(true); 1 },
        () => throw new IllegalStateException("second")))
    }
    assert(e.getMessage == "first")
    assert(done.get(), "a thunk was still running when awaitAll threw")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(IndexBuilder.awaitAll(Seq(() => 1, () => 2)) == Seq(1, 2))
  }
}
