package graft

import java.nio.file.Files

import graft.analyze.Tokenizer
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, PosRow, Searcher}

/** Index-only phrase search ([[graft.index.Searcher.phraseMany]]) vs a
  * driver-side brute-force token scan — the positional analog of the
  * EngineSpec bit-identity gate. Covers the cases position arithmetic
  * must get right: overlapping occurrences, duplicate phrase terms,
  * cross-bucket hits, dictionary-absent terms (die at planning), and a
  * frequency-only index failing loudly.
  */
class PhraseSpec extends SparkSpec {
  import spark.implicits._

  /** Every (phrase, doc) occurrence count by direct token scanning —
    * overlapping starts each count, exactly phraseMany's contract.
    */
  private def bruteForce(
      docs: Seq[(Long, String)],
      phrases: Seq[(Int, String)]): Seq[(Int, Long, Long)] =
    for {
      (pid, p) <- phrases.sortBy(_._1)
      ts = Tokenizer.tokenize(p)
      if ts.nonEmpty
      (docId, text) <- docs.sortBy(_._1)
      toks = Tokenizer.tokenize(text)
      n = (0 to toks.length - ts.length)
        .count(s => ts.indices.forall(k => toks(s + k) == ts(k)))
      if n > 0
    } yield (pid, docId, n.toLong)

  private def buildPositional(docs: Seq[(Long, String)], buckets: Int): Searcher = {
    val root = Files.createTempDirectory("graft-idx-pos-").toString
    val df = docs.toDF("doc_id", "content")
    IndexBuilder.build(spark, df, root, targetBuckets = buckets)
    IndexBuilder.buildPositions(spark, df, root)
    new Searcher(spark, root)
  }

  private def run(s: Searcher, phrases: Seq[(Int, String)]): Seq[(Int, Long, Long)] =
    s.phraseMany(phrases).as[(Int, Long, Long)].collect().toSeq

  test("crafted corpus: overlaps, duplicate terms, absent terms — counts exact") {
    val docs: Seq[(Long, String)] = Seq(
      0L -> "a b a b a",          // "a b a" starts at 0 AND 2 (overlap shares the middle a)
      1L -> "x y z x y z x y",    // "x y" ×3, "x y z" ×2
      2L -> "a a a a",            // "a a" ×3 — duplicate-term phrase, overlapping
      3L -> "b a b",              // contains "b a b", not "a b a"
      4L -> "unique sentinel here, with Punct-and-CASE noise",
      5L -> "filler one two three",
      6L -> "filler four five six a b",
      7L -> "x y at the end x y")
    val phrases = Seq(
      0 -> "a b a",
      1 -> "x y",
      2 -> "a a",
      3 -> "sentinel here with",
      4 -> "never indexed terms",  // dictionary-absent → dies at planning
      5 -> "a b a b a b")          // longer than any doc's hits → empty
    val s = buildPositional(docs, buckets = 3)
    val got = run(s, phrases)
    val want = bruteForce(docs, phrases)
    assert(got == want, s"phraseMany diverged:\n got=$got\nwant=$want")
    // pin the hand-computed heart of it (guards the oracle itself)
    assert(want.contains((0, 0L, 2L)), "overlap case lost")
    assert(want.contains((2, 2L, 3L)), "duplicate-term overlap case lost")
    assert(!want.exists(_._1 == 4) && !want.exists(_._1 == 5))
  }

  test("generated corpus across buckets equals brute force") {
    val nDocs = 300
    val docs: Seq[(Long, String)] =
      (0 until nDocs).map(i => i.toLong -> CorpusGen.genDoc(42L, i.toLong).content)
    // phrases lifted verbatim from documents (guaranteed hits) + a
    // two-term high-df phrase + an absent one
    def lift(id: Int, from: Int, len: Int): String =
      Tokenizer.tokenize(docs(id)._2).slice(from, from + len).mkString(" ")
    val phrases = Seq(
      0 -> lift(10, 2, 3),
      1 -> lift(100, 0, 4),
      2 -> lift(250, 5, 2),
      3 -> "zzzz qqqq")
    val s = buildPositional(docs, buckets = 5)
    val got = run(s, phrases)
    val want = bruteForce(docs, phrases)
    assert(want.count(_._1 == 0) >= 1 && want.count(_._1 == 1) >= 1,
      "vacuous fixture: lifted phrases hit nothing")
    assert(got == want)
  }

  test("a frequency-only index refuses phrase queries loudly") {
    val root = Files.createTempDirectory("graft-idx-nopos-").toString
    val df = Seq(0L -> "a b c").toDF("doc_id", "content")
    IndexBuilder.build(spark, df, root, targetBuckets = 1)
    val s = new Searcher(spark, root)
    val e = intercept[IllegalArgumentException](s.phraseMany(Seq(0 -> "a b")))
    assert(e.getMessage.contains("positions sidecar"))
  }

  test("a Searcher opened before buildPositions serves the sidecar written after") {
    val docs: Seq[(Long, String)] = Seq(0L -> "a b a b", 1L -> "b a", 2L -> "x a b")
    val root = Files.createTempDirectory("graft-idx-late-pos-").toString
    val df = docs.toDF("doc_id", "content")
    IndexBuilder.build(spark, df, root, targetBuckets = 2)
    val s = new Searcher(spark, root)
    intercept[IllegalArgumentException](s.phraseMany(Seq(0 -> "a b")))
    // a half-written sidecar (files, no commit marker) is not part of
    // the index: reading it must fail, and must not pin its listing
    val positions = IndexBuilder.Layout(root).positions
    Files.createDirectories(java.nio.file.Path.of(positions))
    IndexBuilder.ensureReadableWhenEmpty[PosRow](spark, positions)
    intercept[IllegalArgumentException](s.integrityReport(checkPositions = true))
    IndexBuilder.buildPositions(spark, df, root)
    val phrases = Seq(0 -> "a b", 1 -> "b a")
    assert(run(s, phrases) == bruteForce(docs, phrases))
  }

  test("contamination via positions equals the text-verify fallback (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val pos = graft.ops.TextAnalysis.contamination(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val txt = graft.ops.TextAnalysis.contaminationTextVerify(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(pos == txt, "positional and text-verify contamination disagree")
    assert(pos.nonEmpty, "vacuous: no probe hits at sf0.001")
  }
}
