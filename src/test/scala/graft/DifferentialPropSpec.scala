package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen

import graft.analyze.Tokenizer
import graft.index.{DictRow, IndexBuilder, MultiSearcher, PostingRow, Searcher}
import graft.oracle.ExactScorer

/** Randomized differential tests of the per-bucket seam over generated
  * corpora with the nasty cases: zero-token docs, exact-duplicate docs
  * (ties broken by docId), one term in every doc, bucket width 1, bucket
  * width > nDocs, and several segment files per bucket directory.
  * Properties: the point-read postings of each bucket equal the Spark
  * scan of that bucket row for row (block bytes included);
  * `search` ≡ `searchExact` ≡ `searchMany` ≡ [[ExactScorer]] bit for bit;
  * `searchHot`, unit-weight `searchBoosted` and singleton-group
  * `searchSynonym` ≡ `search`; and the gated modes (conjunctive, bool
  * must, minimum-should-match at every threshold) ≡ the top-k of
  * `scoreAllMatched` (exact WAND) restricted to their gate; and a
  * [[MultiSearcher]] over the corpus split into 2–3 generations ≡ one
  * index over the whole corpus for `search`, `searchMany` and
  * `searchConjunctiveMany`; and every term-expanding mode (prefix,
  * wildcard, regexp, fuzzy, batched fuzzy, terms-enum), on a default and
  * a `cacheHot` Searcher, ≡ the brute-force expansion over the generated
  * vocabulary fed to `search`/`searchMany`, a small `maxExpansion`
  * failing exactly when the expansion is wider.
  * (Plain scalacheck generators sampled in a loop, as in CodecSpec; N is
  * small to keep the suite's runtime bounded.)
  */
class DifferentialPropSpec extends SparkSpec {
  import spark.implicits._
  import DifferentialPropSpec._

  private val vocab = (0 until 12).map(i => s"w$i")

  private val docGen: Gen[String] = Gen.frequency(
    1 -> Gen.oneOf("", "-- ..", "!"), // zero tokens
    6 -> Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" "))))

  private val caseGen: Gen[Case] = for {
    n <- Gen.choose(1, 40)
    base <- Gen.listOfN(n, docGen)
    dups <- Gen.listOfN(n / 4, Gen.choose(0, n - 1)) // exact duplicates
    everywhere <- Gen.oneOf(true, false) // one term in every doc
    width <- Gen.oneOf(Gen.const(One), Gen.const(Wide), Gen.choose(2, 5).map(Buckets(_)))
    nq <- Gen.choose(1, 5)
    queries <- Gen.listOfN(nq, Gen.choose(1, 3).flatMap(m =>
      Gen.listOfN(m, Gen.oneOf(vocab :+ "every" :+ "absent")).map(_.mkString(" "))))
    k <- Gen.choose(1, 10)
  } yield {
    val contents = dups.foldLeft(base.toIndexedSeq)((cs, i) => cs :+ cs(i))
      .map(c => if (everywhere) s"$c every" else c)
    Case(contents.zipWithIndex.map { case (c, i) => (i.toLong, c) }, width,
      queries.zipWithIndex.map(_.swap), k)
  }

  /** Which of the nasty cases a generated corpus contains. */
  private def features(c: Case): Set[String] = {
    val toks = c.docs.map { case (_, d) => Tokenizer.tokenize(d).toSet }
    Set(
      Some(c.width.toString.takeWhile(_ != '(')),
      if (toks.exists(_.isEmpty)) Some("zero-token doc") else None,
      if (c.docs.map(_._2).distinct.size < c.docs.size) Some("duplicate docs") else None,
      if (toks.reduce(_ intersect _).nonEmpty) Some("term in every doc") else None).flatten
  }

  /** A generated corpus cut into 2–3 generations with disjoint doc-id
    * ranges at random cut points. One doc of one generation gains the
    * term `solo`, which therefore posts in that generation only, and two
    * queries join the case's own: `solo` with a term of that doc, and
    * the dictionary-absent `absent` with a vocabulary term.
    */
  private val splitGen: Gen[(Case, Seq[IndexedSeq[(Long, String)]])] = for {
    c <- caseGen.suchThat(_.docs.size >= 2)
    n = c.docs.size
    cuts <- Gen.choose(1, 2).flatMap(g => Gen.pick(math.min(g, n - 1), 1 until n)).map(_.sorted)
    soloDoc <- Gen.choose(0, n - 1)
    mate <- Gen.oneOf(Tokenizer.tokenize(c.docs(soloDoc)._2).toSeq :+ "solo")
    other <- Gen.oneOf(vocab)
  } yield {
    val docs = c.docs.updated(soloDoc, (soloDoc.toLong, s"${c.docs(soloDoc)._2} solo"))
    val qs = c.queries ++ Seq(s"solo $mate", s"absent $other").zipWithIndex
      .map { case (q, i) => (c.queries.size + i, q) }
    val bounds = 0 +: cuts.toSeq :+ n
    (c.copy(docs = docs, queries = qs),
      bounds.zip(bounds.tail).map { case (from, until) => docs.slice(from, until) })
  }

  /** An index over `docs` in the case's bucket geometry. */
  private def build(c: Case, docs: Seq[(Long, String)]): String = {
    val root = Files.createTempDirectory("graft-diff-").toString
    val corpus = docs.toDF("doc_id", "content")
    c.width match {
      case One => IndexBuilder.build(spark, corpus, root, fixedBucketSize = 1L)
      case Wide => IndexBuilder.build(spark, corpus, root, fixedBucketSize = c.docs.size + 5L)
      case Buckets(b) => IndexBuilder.build(spark, corpus, root, targetBuckets = b)
    }
    root
  }

  private def dataFiles(dir: Path): Int =
    if (!Files.isDirectory(dir)) 0
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.count(_.toString.endsWith(".parquet")) finally s.close()
    }

  private def same(a: PostingRow, b: PostingRow): Boolean =
    a.term == b.term && a.bucket == b.bucket && a.df == b.df && a.maxTfNorm == b.maxTfNorm &&
      a.blocks.length == b.blocks.length && a.blocks.zip(b.blocks).forall { case (x, y) =>
        x.first == y.first && x.last == y.last && x.count == y.count &&
          x.maxTfNorm == y.maxTfNorm && x.bytes.sameElements(y.bytes)
      }

  /** The generated cases, each with its built index, shared by the tests. */
  private lazy val cases: Seq[(Case, String)] = {
    var seed = org.scalacheck.rng.Seed(20261018L)
    (1 to 9).map { _ =>
      val c = caseGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      (c, build(c, c.docs))
    }
  }

  private def hits(df: DataFrame): Seq[(Long, Double)] = df.as[(Long, Double)].collect().toSeq

  /** A batched result (query_id, doc_id, score, rank) as ranked hits per query. */
  private def ranked(df: DataFrame): Map[Int, Seq[(Long, Double)]] =
    df.as[(Int, Long, Double, Int)].collect().groupBy(_._1)
      .map { case (q, rs) => q -> rs.sortBy(_._4).map(r => (r._2, r._3)).toSeq }

  test("point-read postings ≡ Spark scan; search ≡ searchExact ≡ searchMany ≡ ExactScorer") {
    var multiFileBuckets = 0
    val seen = Set.newBuilder[String]
    cases.zipWithIndex.foreach { case ((c, root), i) =>
      val run = i + 1
      seen ++= features(c)
      val layout = IndexBuilder.Layout(root)
      val s = new Searcher(spark, root)
      val dict = spark.read.parquet(layout.dict).as[DictRow].collect()
      val listed = dict.flatMap(d => d.buckets.map(_ -> d.term)).groupMap(_._1)(_._2)
      val scanned = spark.read.parquet(layout.segments).as[PostingRow].collect().groupBy(_.bucket)
      assert(listed.keySet == scanned.keySet, s"run $run: dictionary and segments buckets differ")
      listed.foreach { case (b, terms) =>
        multiFileBuckets += (if (dataFiles(Path.of(layout.segments, s"bucket=$b")) > 1) 1 else 0)
        val want = spark.read.parquet(layout.segments).where(col("bucket") === b)
          .as[PostingRow].collect().sortBy(_.term)
        val got = s.bucketPostings(b, terms.toSeq).sortBy(_.term)
        assert(want.length == scanned(b).length && got.length == want.length &&
          got.zip(want).forall { case (x, y) => same(x, y) },
          s"run $run bucket $b: point read differs from the Spark scan")
      }

      val oracle = new ExactScorer(c.docs)
      val many = ranked(s.searchMany(c.queries, c.k))
      c.queries.foreach { case (id, q) =>
        val want = oracle.search(q, c.k).toSeq
        val ctx = s"run $run (${c.docs.size} docs, ${c.width}) query '$q' k=${c.k}"
        assert(hits(s.search(q, c.k)) == want, s"search: $ctx")
        assert(hits(s.searchExact(q, c.k)) == want, s"searchExact: $ctx")
        assert(many.getOrElse(id, Seq.empty) == want, s"searchMany: $ctx")
      }
    }
    assert(multiFileBuckets > 0, "no generated geometry put several files in one bucket")
    val missed = Set("One", "Wide", "Buckets", "zero-token doc", "duplicate docs",
      "term in every doc") -- seen.result()
    assert(missed.isEmpty, s"cases never generated: $missed")
  }

  test("searchHot, unit boosts, singleton synonyms ≡ search; gated modes ≡ scoreAllMatched") {
    cases.zipWithIndex.foreach { case ((c, root), i) =>
      val s = new Searcher(spark, root)
      val hot = new Searcher(spark, root, cacheHot = true)
      val docTerms = c.docs.map { case (id, d) => id -> Tokenizer.tokenize(d).toSet }.toMap
      val terms = c.queries.map { case (id, q) => id -> Tokenizer.tokenize(q).distinct.sorted }
        .toMap
      // every threshold from 1 to one past the term count, in one batch
      val thresholds = c.queries.flatMap { case (id, q) =>
        (1 to terms(id).length + 1).map(m => (8 * id + m, q, m))
      }
      val conj = ranked(s.searchConjunctiveMany(c.queries, c.k))
      val minMatch = ranked(s.searchMinMatchMany(thresholds, c.k))
      c.queries.foreach { case (id, q) =>
        val ts = terms(id)
        val ctx = s"run ${i + 1} (${c.docs.size} docs, ${c.width}) query '$q' k=${c.k}"
        val want = hits(s.search(q, c.k))
        assert(hot.searchHot(q, c.k).map(h => (h.docId, h.score)).toSeq == want,
          s"searchHot: $ctx")
        assert(hits(s.searchBoosted(ts.map(_ -> 1.0), c.k)) == want, s"searchBoosted: $ctx")
        assert(hits(s.searchSynonym(ts.map(Seq(_)), c.k)) == want, s"searchSynonym: $ctx")
        // the top-k of every matched doc holding at least m query terms
        val matched = hits(s.scoreAllMatched(q))
        def atLeast(m: Int) = matched.filter { case (d, _) => ts.count(docTerms(d)) >= m }
          .sortBy { case (d, sc) => (-sc, d) }.take(c.k)
        assert(conj.getOrElse(id, Seq.empty) == atLeast(ts.length),
          s"searchConjunctiveMany: $ctx")
        assert(hits(s.searchBool(c.k, must = q)) == atLeast(ts.length), s"searchBool: $ctx")
        (1 to ts.length + 1).foreach { m =>
          assert(minMatch.getOrElse(8 * id + m, Seq.empty) == atLeast(m),
            s"searchMinMatchMany m=$m: $ctx")
        }
      }
    }
  }

  /** The prefix, wildcard and regexp patterns, each a (kind, pattern)
    * drawn from a case's vocabulary.
    */
  private def patternGens(vocab: Seq[String]): Seq[Gen[(String, String)]] = {
    val term = Gen.oneOf(vocab)
    val longTerm = Gen.oneOf(vocab.filter(_.length >= 2) :+ "w10")
    def cut(t: String) = Gen.choose(1, t.length - 1)
    val prefix = Gen.oneOf(
      term.map(t => ("prefix: whole term", t)),
      term.map(t => ("prefix: one char", t.take(1))),
      term.map(t => ("prefix: absent", t + "q")))
    val wildcard = Gen.oneOf(
      longTerm.flatMap(t => cut(t).map(i => ("wildcard: leading *", "*" + t.drop(i)))),
      longTerm.flatMap(t => cut(t).map(i => ("wildcard: inner *", t.take(i) + "*" + t.last))),
      longTerm.flatMap(t => cut(t).map(i => ("wildcard: trailing *", t.take(i) + "*"))))
    val regexp = Gen.oneOf(
      for (t <- longTerm; i <- cut(t); tail <- Gen.oneOf(".", "[0-9]*", ".?", "(0|1)"))
        yield ("regexp: literal head", t.take(i) + tail),
      for (t <- longTerm; u <- term; form <- Gen.choose(0, 2)) yield ("regexp: no head",
        Seq(s"[${t.head}x]${t.tail}", s".*${t.last}", s"$t|$u")(form)),
      // "w1?0": the head "w1" loses its optional last literal, so the read is "w"
      longTerm.map(t => ("regexp: optional last literal", t.take(2) + "?" + t.drop(2))))
    Seq(prefix, wildcard, regexp)
  }

  /** A fuzzy probe within 0–2 edits of a vocabulary term (or absent). */
  private def fuzzyGen(vocab: Seq[String]): Gen[(String, Int)] = for {
    t <- Gen.oneOf(vocab :+ "zzzz")
    d <- Gen.choose(0, 2)
    edit <- Gen.choose(0, 3)
    c <- Gen.oneOf('a', 'w', '1', '7')
    i <- Gen.choose(0, t.length - 1)
  } yield (Seq(t, t.updated(i, c), t.patch(i, Seq(c), 0), if (t.length > 1) t.patch(i, "", 1) else t)(edit), d)

  test("every expansion mode, default and cacheHot ≡ brute-force expansion fed to search") {
    var seed = org.scalacheck.rng.Seed(20261020L)
    def draw[T](g: Gen[T]): T = {
      val v = g.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      v
    }
    val seen = Set.newBuilder[String]
    cases.zipWithIndex.foreach { case ((c, root), i) =>
      val s = new Searcher(spark, root)
      val hot = new Searcher(spark, root, cacheHot = true)
      val docTerms = c.docs.map { case (_, d) => Tokenizer.tokenize(d).toSet }
      val df = docTerms.flatten.groupMapReduce(identity)(_ => 1L)(_ + _)
      val vocab = df.keys.toSeq.sorted
      val ctx = s"run ${i + 1} (${c.docs.size} docs, ${c.width}) k=${c.k}"
      // the brute-force expansion scored as one disjunctive query
      def want(accept: String => Boolean): Seq[(Long, Double)] = {
        val ts = vocab.filter(accept)
        if (ts.isEmpty) Seq.empty else hits(s.search(ts.mkString(" "), c.k))
      }
      if (vocab.nonEmpty) {
        patternGens(vocab).flatMap(g => Seq(draw(g), draw(g))).foreach { case (kind, p) =>
          seen += kind
          val (accept, run) = kind.takeWhile(_ != ':') match {
            case "prefix" => ((t: String) => t.startsWith(p),
              (se: Searcher, m: Int) => se.searchPrefix(p, c.k, m))
            case "wildcard" => ((t: String) => t.matches(p.replace("*", ".*")),
              (se: Searcher, m: Int) => se.searchWildcard(p, c.k, m))
            case _ => ((t: String) => t.matches(p),
              (se: Searcher, m: Int) => se.searchRegexp(p, c.k, m))
          }
          val expected = want(accept)
          if (expected.nonEmpty) seen += s"${kind.takeWhile(_ != ':')} hit"
          assert(hits(run(s, 1024)) == expected, s"$kind '$p': $ctx")
          assert(hits(run(hot, 1024)) == expected, s"$kind '$p' (cacheHot): $ctx")
          // the loud bound: a small maxExpansion fails iff the expansion is wider
          val m = draw(Gen.choose(1, 3))
          for (se <- Seq(s, hot)) {
            if (vocab.count(accept) > m) {
              seen += "bound exceeded"
              val e = intercept[IllegalArgumentException](run(se, m))
              assert(e.getMessage.contains("expands to"), s"$kind '$p' m=$m: ${e.getMessage}")
            } else assert(hits(run(se, m)) == expected, s"$kind '$p' m=$m: $ctx")
          }
        }
        val probes = (1 to 3).map(_ => draw(fuzzyGen(vocab))).zipWithIndex
          .map { case ((q, d), id) => (id, q, d) }
        probes.foreach { case (_, q, d) =>
          seen += s"fuzzy d=$d"
          val expected = want(t => Searcher.levWithin(t, q, d))
          if (expected.nonEmpty) seen += "fuzzy hit"
          assert(hits(s.searchFuzzy(q, c.k, maxDist = d)) == expected, s"fuzzy '$q'~$d: $ctx")
          assert(hits(hot.searchFuzzy(q, c.k, maxDist = d)) == expected,
            s"fuzzy '$q'~$d (cacheHot): $ctx")
        }
        val expansions = probes.map { case (id, q, d) =>
          id -> vocab.filter(t => Searcher.levWithin(t, q, d)).mkString(" ")
        }.filter(_._2.nonEmpty)
        val batch = if (expansions.isEmpty) Map.empty else ranked(s.searchMany(expansions, c.k))
        assert(ranked(s.searchFuzzyMany(probes, c.k)) == batch, s"searchFuzzyMany: $ctx")
        assert(ranked(hot.searchFuzzyMany(probes, c.k)) == batch, s"searchFuzzyMany (cacheHot): $ctx")
        val n = draw(Gen.choose(1, 6))
        val prefixes = Seq(vocab.head.take(1), vocab.last, "zq").zipWithIndex.map(_.swap)
        val enumWant = prefixes.flatMap { case (id, p) =>
          vocab.filter(_.startsWith(p)).take(n).map(t => (id, t, df(t)))
        }
        for (se <- Seq(s, hot))
          assert(se.termsEnum(prefixes, n).as[(Int, String, Long)].collect().toSeq == enumWant,
            s"termsEnum n=$n: $ctx")
      }
    }
    val missed = Set("prefix: whole term", "prefix: one char", "prefix: absent",
      "wildcard: leading *", "wildcard: inner *", "wildcard: trailing *",
      "regexp: literal head", "regexp: no head", "regexp: optional last literal",
      "fuzzy d=0", "fuzzy d=1", "fuzzy d=2",
      "prefix hit", "wildcard hit", "regexp hit", "fuzzy hit", "bound exceeded") -- seen.result()
    assert(missed.isEmpty, s"cases never generated: $missed")
  }

  test("multi-generation search, searchMany and conjunctive ≡ one index over the union") {
    var seed = org.scalacheck.rng.Seed(20261019L)
    val seen = Set.newBuilder[String]
    (1 to 5).foreach { run =>
      val (c, gens) = splitGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val single = new Searcher(spark, build(c, c.docs))
      val multi = new MultiSearcher(spark, gens.map(build(c, _)))
      val genTerms = gens.map(_.flatMap { case (_, d) => Tokenizer.tokenize(d) }.toSet)
      val queryTerms = c.queries.flatMap { case (_, q) => Tokenizer.tokenize(q) }
      seen += s"${gens.size} generations"
      if (queryTerms.exists(t => genTerms.count(_(t)) == 1)) seen += "term in one generation"
      if (queryTerms.exists(t => !genTerms.exists(_(t)))) seen += "dictionary-absent term"
      val ctx = s"run $run (${gens.map(_.size).mkString("+")} docs, ${c.width}) k=${c.k}"
      c.queries.foreach { case (_, q) =>
        assert(hits(multi.search(q, c.k)) == hits(single.search(q, c.k)), s"search '$q': $ctx")
      }
      assert(ranked(multi.searchMany(c.queries, c.k)) == ranked(single.searchMany(c.queries, c.k)),
        s"searchMany: $ctx")
      val conj = ranked(multi.searchConjunctiveMany(c.queries, c.k))
      assert(conj == ranked(single.searchConjunctiveMany(c.queries, c.k)),
        s"searchConjunctiveMany: $ctx")
      if (conj.nonEmpty) seen += "conjunctive hit"
    }
    val missed = Set("2 generations", "3 generations", "term in one generation",
      "dictionary-absent term", "conjunctive hit") -- seen.result()
    assert(missed.isEmpty, s"cases never generated: $missed")
  }
}

object DifferentialPropSpec {
  private sealed trait Width
  private case object One extends Width // bucket width 1
  private case object Wide extends Width // one bucket wider than the corpus
  private final case class Buckets(n: Int) extends Width

  private final case class Case(docs: IndexedSeq[(Long, String)], width: Width,
      queries: Seq[(Int, String)], k: Int)
}
