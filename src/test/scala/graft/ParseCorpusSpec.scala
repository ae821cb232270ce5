package graft

import graft.corpus.ParseCorpus
import graft.model.CorpusStats
import graft.polylda.PolyParseCorpus
import org.apache.spark.sql.functions.array

class ParseCorpusSpec extends SparkSpec {
  import spark.implicits._

  private def tiny = Seq(
    (1L, "d1", "apple banana apple"),
    (2L, "d2", "banana cherry"),
    (3L, "d3", "apple")).toDF("docId", "title", "text")

  test("tokenize + df/tf + deterministic 1-based dictionary") {
    val r = ParseCorpus.run(tiny)
    val terms = r.terms.collect().sortBy(_.termId)
    assert(terms.map(t => (t.termId, t.term, t.df, t.tf)).toSeq ==
      Seq((1, "apple", 2L, 3L), (2, "banana", 2L, 2L), (3, "cherry", 1L, 1L)))
    val docs = r.docs.collect().map(d => d.docId -> d).toMap
    assert(docs(1L).counts == Map(1 -> 2, 2 -> 1) && docs(1L).numTokens == 3)
    assert(docs(2L).counts == Map(2 -> 1, 3 -> 1) && docs(2L).numTokens == 2)
    assert(docs(3L).counts == Map(1 -> 1) && docs(3L).numTokens == 1)
    assert(docs(1L).gamma.isEmpty)
    assert(r.stats == graft.model.CorpusStats(3, 3, 0, 0, 0))
  }

  test("df band filter drops terms and collapses empty documents") {
    // hi = 0.5 * 3 = 1.5 → apple/banana (df=2) dropped; only cherry survives
    val r = ParseCorpus.run(tiny, ParseCorpus.Config(maxDfFraction = 0.5))
    assert(r.terms.collect().map(_.term).toSeq == Seq("cherry"))
    val docs = r.docs.collect()
    assert(docs.length == 1 && docs.head.docId == 2L && docs.head.counts == Map(1 -> 1))
    assert(r.stats.collapsedDocs == 2 && r.stats.highDfTerms == 2)
  }

  test("leading, trailing and doubled whitespace makes no empty token") {
    val r = ParseCorpus.run(Seq((1L, "d1", "\t apple  banana ")).toDF("docId", "title", "text"))
    val terms = r.terms.collect().map(_.term)
    assert(terms.toSet == Set("apple", "banana"))
    assert(!terms.exists(_.isEmpty))
    assert(r.docs.collect().map(_.numTokens).toSeq == Seq(2L))
  }

  test("stopword filter and lowercase") {
    val df = Seq((1L, "t", "The BANANA the apple")).toDF("docId", "title", "text")
    val r = ParseCorpus.run(df, ParseCorpus.Config(stopwords = Seq("the"), lowercase = true))
    assert(r.terms.collect().map(_.term).toSet == Set("banana", "apple"))
  }

  test("fromRawLines keeps duplicate-title lines as distinct documents") {
    val dir = TempDirs.create("graft_raw_")
    val f = dir.resolve("corpus.txt")
    java.nio.file.Files.writeString(f,
      "Re: hello\tapple banana\nRe: hello\tcherry cherry\nother\tbanana\n")
    val r = ParseCorpus.fromRawLines(spark, f.toString)
    // three lines → three documents, despite two sharing a title
    assert(r.stats.numDocs == 3)
    val docs = r.docs.collect()
    assert(docs.map(_.docId).toSet.size == 3)
    assert(docs.map(_.numTokens).sorted.toSeq == Seq(1L, 2L, 2L))
    assert(r.titles.collect().map(_.title).count(_ == "Re: hello") == 2)
  }

  test("pluggable analyzer segments CJK text the regex split mangles") {
    // the default whitespace split sees ONE token; the unicode analyzer
    // segments per ideograph (what Lucene's StandardAnalyzer does for CJK)
    val df = Seq((1L, "t1", "我爱数据"), (2L, "t2", "数据 Spark")).toDF("docId", "title", "text")
    val mangled = ParseCorpus.run(df)
    assert(mangled.terms.collect().map(_.term).toSet == Set("我爱数据", "数据", "Spark"))
    val r = ParseCorpus.run(df,
      ParseCorpus.Config(analyzer = Some(ParseCorpus.Analyzers.unicode)))
    assert(r.terms.collect().map(_.term).toSet == Set("我", "爱", "数", "据", "spark"))
    val docs = r.docs.collect().map(d => d.docId -> d).toMap
    assert(docs(1L).numTokens == 4) // four ideographs
    assert(docs(2L).numTokens == 3) // 数 据 spark
  }

  test("analyzer loads by class name (reference's reflection surface) and serializes") {
    // the reference reflection-instantiates any named Lucene Analyzer
    // (ParseCorpus.java:191-207); here any Function1[String, Seq[String]]
    // class (or a Lucene Analyzer when Lucene is on the classpath) loads
    // the same way, and the wrapper ships to executors by class NAME so
    // the analyzer class itself need not be serializable
    val an = ParseCorpus.Analyzers.byClassName(classOf[CommaAnalyzer].getName)
    val df = Seq((1L, "t1", "a,b,a"), (2L, "t2", "c")).toDF("docId", "title", "text")
    val r = ParseCorpus.run(df, ParseCorpus.Config(analyzer = Some(an)))
    assert(r.terms.collect().map(_.term).toSet == Set("a", "b", "c"))
    assert(r.docs.collect().map(d => d.docId -> d.numTokens).toMap ==
      Map(1L -> 3L, 2L -> 1L))
  }

  test("analyzer class-name loading rejects unknown and incompatible classes") {
    intercept[ClassNotFoundException] {
      ParseCorpus.Analyzers.byClassName("no.such.AnalyzerClass")("x")
    }
    intercept[IllegalArgumentException] {
      ParseCorpus.Analyzers.byClassName("java.lang.StringBuilder")("x")
    }
  }

  test("parses the documents test table end-to-end") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id as docId", "cast(doc_id as string) as title", "text")
    val r = ParseCorpus.run(docs)
    assert(r.stats.numDocs > 0 && r.stats.numTerms > 0)
    // ids dense and 1-based
    val ids = r.terms.collect().map(_.termId).sorted
    assert(ids.head == 1 && ids.last == ids.length)
  }

  /** A seeded Zipf corpus, 120 documents of 30 tokens over a 200-word
    * vocabulary plus one blank document: (docId, title, text). */
  private def corpusRows: Seq[(Long, String, String)] = {
    val rnd = new scala.util.Random(7)
    val cum = (1 to 200).map(1.0 / _).scanLeft(0.0)(_ + _).tail
    def word(): String = { val u = rnd.nextDouble() * cum.last; s"w${cum.indexWhere(_ >= u)}" }
    (1 to 120).map(i => (i.toLong, f"d$i%03d", Seq.fill(30)(word()).mkString(" "))) :+
      ((121L, "d121", ""))
  }

  private def documents = corpusRows.toDF("docId", "title", "text")

  /** A vanilla parse and a polylingual parse with one language give the
    * same ids, df, tf, count maps and token totals. */
  private def assertSameParse(v: ParseCorpus.Result, p: PolyParseCorpus.Result): Unit = {
    val vTerms = v.terms.collect().map(t => (t.termId, t.term, t.df, t.tf)).sorted.toSeq
    val pTerms = p.terms.collect().map { t =>
      assert(t.lang == 0)
      (t.termId, t.term, t.df, t.tf)
    }.sorted.toSeq
    assert(vTerms.nonEmpty && vTerms == pTerms)
    val vDocs = v.docs.collect().map(d => (d.docId, d.counts, d.numTokens)).sortBy(_._1).toSeq
    val pDocs = p.docs.collect().map { d =>
      assert(d.counts.keySet == Set(0) && d.totalTokens == d.numTokens(0))
      (d.docId, d.counts(0), d.numTokens(0))
    }.sortBy(_._1).toSeq
    assert(vDocs.nonEmpty && vDocs == pDocs)
    assert(v.stats.numTerms == vTerms.length && v.stats.numDocs == vDocs.length)
    // the blank document is counted and collapses on both models
    assert(v.stats.collapsedDocs >= 1)
    assert(p.docsPerLanguage == Map(0 -> (v.stats.numDocs + v.stats.collapsedDocs)))
  }

  for ((name, band, polyBand) <- Seq(
      ("the default config", ParseCorpus.Config(), PolyParseCorpus.Config(numLanguages = 1)),
      ("a df band", ParseCorpus.Config(minDfFraction = 0.06, maxDfFraction = 0.78),
        PolyParseCorpus.Config(numLanguages = 1, minDfFraction = 0.06, maxDfFraction = 0.78)))) {
    test(s"vanilla run == polylingual run with one language, $name") {
      val v = ParseCorpus.run(documents, band)
      if (band.maxDfFraction < 1.0) assert(v.stats.highDfTerms > 0 && v.stats.lowDfTerms > 0)
      assertSameParse(v, PolyParseCorpus.run(
        documents.select($"docId", $"title", array($"text").as("texts")), polyBand))
    }

    test(s"vanilla fromRawLines == polylingual fromRawLines with one language, $name") {
      val dir = TempDirs.create("graft_raw_")
      val f = java.nio.file.Files.writeString(dir.resolve("corpus.txt"),
        corpusRows.map { case (_, title, text) => s"$title\t$text" }.mkString("\n"))
      assertSameParse(ParseCorpus.fromRawLines(spark, f.toString, band),
        PolyParseCorpus.fromRawLines(spark, f.toString, polyBand))
    }
  }

  test("an empty input parses to empty results on both models") {
    for (cfg <- Seq(ParseCorpus.Config(), ParseCorpus.Config(minDfFraction = 0.1, maxDfFraction = 0.9))) {
      val v = ParseCorpus.run(tiny.limit(0), cfg)
      assert(v.docs.count() == 0 && v.terms.count() == 0 && v.titles.count() == 0)
      assert(v.stats == CorpusStats(0, 0, 0, 0, 0))
    }
    val p = PolyParseCorpus.run(Seq.empty[(Long, String, Seq[String])].toDF("docId", "title", "texts"),
      PolyParseCorpus.Config(numLanguages = 2, minDfFraction = 0.1))
    assert(p.docs.count() == 0 && p.terms.count() == 0 && p.docsPerLanguage.isEmpty)
  }
}

/** Test analyzer for the reflection-loading path: must be top-level with a
  * no-arg constructor (the loader instantiates it by name on executors). */
class CommaAnalyzer extends (String => Seq[String]) {
  override def apply(text: String): Seq[String] =
    if (text == null) Seq.empty else text.split(",").toSeq.filter(_.nonEmpty)
}
