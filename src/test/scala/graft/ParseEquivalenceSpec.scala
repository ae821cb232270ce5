package graft

import java.nio.file.Files

import graft.corpus.ParseCorpus
import graft.corpus.ParseCorpus.Config
import graft.lda.{Display, VanillaDocs}
import graft.model.{Doc, PolyDoc, PolyTermEntry, TermEntry}
import graft.polylda.{PolyDocs, PolyParseCorpus, PolyTrainer}
import org.apache.spark.sql.functions._

/**
 * The parse core counts each document in the task that reads it and ranks
 * the dictionary on the driver; [[ParseReference]] keeps the DataFrame core
 * it replaced. Both must give the same documents, dictionary, titles,
 * counters and documents per language on every input shape the reference
 * handled: the `documents` test table, duplicate titles and lines, blank
 * and tab-short lines, missing-language slots, terms whose UTF-16 and UTF-8
 * orders differ, df bands cutting at both ends, stopwords with lowercase,
 * and the English analyzer. The top-terms ranking on the driver must give
 * the window ranking's rows.
 */
class ParseEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  /** Count maps as termId-ascending entry lists, so map iteration order
    * does not decide equality. */
  private def vanilla(docs: Seq[Doc]) =
    docs.map(d => (d.docId, d.counts.toSeq.sorted, d.numTokens, d.gamma.map(_.toSeq))).sortBy(_._1)
  private def poly(docs: Seq[PolyDoc]) =
    docs.map(d => (d.docId, d.counts.toSeq.map { case (l, m) => l -> m.toSeq.sorted }.sortBy(_._1),
      d.numTokens.toSeq.sorted, d.totalTokens, d.gamma.map(_.toSeq))).sortBy(_._1)

  private def assertSame(r: ParseCorpus.Result, ref: ParseReference.Vanilla): Unit = {
    assert(vanilla(r.docs.collect().toSeq) == vanilla(ref.docs))
    assert(r.terms.collect().toSeq.sortBy(_.termId) == ref.terms.sortBy(_.termId))
    assert(r.titles.collect().toSeq.sortBy(t => (t.docId, t.title)) ==
      ref.titles.sortBy(t => (t.docId, t.title)))
    assert(r.stats == ref.stats)
  }

  private def assertSame(r: PolyParseCorpus.Result, ref: ParseReference.Poly): Unit = {
    assert(poly(r.docs.collect().toSeq) == poly(ref.docs))
    assert(r.terms.collect().toSeq.sortBy(t => (t.lang, t.termId)) == ref.terms.sortBy(t => (t.lang, t.termId)))
    assert(r.docsPerLanguage == ref.docsPerLanguage)
  }

  private def write(lines: Seq[String]): String = {
    val f = Files.createTempFile("graft_equiv_", ".txt")
    f.toFile.deleteOnExit()
    Files.writeString(f, lines.mkString("\n")).toString
  }

  private def documents = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .selectExpr("doc_id as docId", "cast(doc_id as string) as title", "text")

  /** Raw lines with every shape the line parser meets: duplicate titles,
    * a duplicated line, blank, whitespace-only and tab-less lines, mixed
    * case, stopwords, terms ordered differently by UTF-16 and UTF-8 (Ａ is
    * U+FF21, 😀 U+1F600), and terms frequent and rare enough for a band
    * to cut at both ends. */
  private val rawLines = Seq(
    "b\tthe apple Apple banana the",
    "a\tapple banana cherry",
    "a\tapple banana cherry",
    "a\tcherry Ａ 😀 é É",
    "c\t  apple\t banana  ",
    "d\t",
    "e\t   ",
    "",
    "no tab here",
    "f\tThe dogs' running runs ran Ａ 😀",
    "g\tapple apple apple date",
    "h\tdate elder fig fig fig",
    "Ｚ\tapple 😀",
    "😀\tÄpfel äpfel ÄPFEL")

  /** Both document slots of every line, the second missing as `null`,
    * ` NULL `, or given, plus tab-short and tab-long lines. */
  private val polyLines = rawLines.filter(_.contains("\t")).zipWithIndex.map { case (l, i) =>
    val second = i % 3 match { case 0 => "null"; case 1 => " NULL "; case _ => l.split("\t", 2)(1).reverse }
    s"$l\t$second"
  } ++ Seq("x\tonly one", "y\tone\ttwo\tthree", "a\tapple banana cherry\tnull", "a\tapple banana cherry\tnull")

  private val configs = Seq(
    "default" -> Config(),
    "a df band cutting both ends" -> Config(minDfFraction = 0.15, maxDfFraction = 0.3),
    "stopwords with lowercase" -> Config(stopwords = Seq("the", "apple"), lowercase = true),
    "the English analyzer" -> Config(analyzer = Some(ParseCorpus.Analyzers.english)))

  for ((name, cfg) <- configs) {
    test(s"fromRawLines == reference, $name") {
      val path = write(rawLines)
      val ref = ParseReference.fromRawLines(spark, path, cfg)
      if (cfg.minDfFraction > 0) assert(ref.stats.lowDfTerms > 0 && ref.stats.highDfTerms > 0)
      assertSame(ParseCorpus.fromRawLines(spark, path, cfg), ref)
    }

    test(s"run over the documents table == reference, $name") {
      assertSame(ParseCorpus.run(documents, cfg), ParseReference.run(documents, cfg))
    }
  }

  test("many partitions: numbered lines, per-partition offsets and several reducers == reference") {
    // 64-byte splits put every few lines in a partition of their own
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "64")
    try {
      val path = write(rawLines ++ rawLines.map(_.reverse))
      assert(spark.read.textFile(path).rdd.getNumPartitions > 4)
      for ((_, cfg) <- configs.take(2))
        assertSame(ParseCorpus.fromRawLines(spark, path, cfg), ParseReference.fromRawLines(spark, path, cfg))
      val polyPath = write(polyLines ++ polyLines.map(_.reverse))
      assertSame(PolyParseCorpus.fromRawLines(spark, polyPath, PolyParseCorpus.Config(numLanguages = 2)),
        ParseReference.polyFromRawLines(spark, polyPath, 2, Config()))
    } finally spark.conf.set(key, saved)
    val spread = documents.repartition(5)
    assertSame(ParseCorpus.run(spread), ParseReference.run(spread, Config()))
  }

  test("run == reference with a null text and duplicate titles") {
    val df = Seq((1L, "t", "apple banana"), (2L, "t", null), (3L, "u", "  "), (4L, "u", "banana"))
      .toDF("docId", "title", "text")
    assertSame(ParseCorpus.run(df), ParseReference.run(df, Config()))
  }

  for ((name, cfg, polyCfg) <- Seq(
      ("default", Config(), PolyParseCorpus.Config(numLanguages = 2)),
      ("a df band cutting both ends", Config(minDfFraction = 0.15, maxDfFraction = 0.3),
        PolyParseCorpus.Config(numLanguages = 2, minDfFraction = 0.15, maxDfFraction = 0.3)),
      ("lowercase", Config(lowercase = true), PolyParseCorpus.Config(numLanguages = 2, lowercase = true)))) {
    test(s"polylingual fromRawLines == reference, $name") {
      val path = write(polyLines)
      assertSame(PolyParseCorpus.fromRawLines(spark, path, polyCfg),
        ParseReference.polyFromRawLines(spark, path, 2, cfg))
    }

    test(s"polylingual run over the documents table == reference, $name") {
      val input = documents.select($"docId", $"title",
        array($"text", when($"docId" % 5 === 0, lit(" NULL ")).otherwise(upper($"text"))).as("texts"))
      assertSame(PolyParseCorpus.run(input, polyCfg), ParseReference.polyRun(input, 2, cfg))
    }
  }

  test("polylingual run == reference with null, short and long text arrays") {
    val df = Seq[(Long, String, Seq[String])]((1L, "a", Seq("apple", "pomme", "extra")), (2L, "b", null),
      (3L, "c", Seq("banana")), (4L, "d", Seq(null, "poire")), (5L, "e", Seq("null", "NuLl")))
      .toDF("docId", "title", "texts")
    val cfg = PolyParseCorpus.Config(numLanguages = 2)
    assertSame(PolyParseCorpus.run(df, cfg), ParseReference.polyRun(df, 2, Config()))
  }

  /** E[log β] rows (Row equality treats NaN as equal to NaN) with ties,
    * ±0.0, NaN and −∞ scores, a topic with fewer
    * terms than k, and a term (9) the dictionary lacks. */
  private val betaRows = Seq(
    (0, 1, 1, -1.0), (0, 1, 2, -1.0), (0, 1, 3, -0.5), (0, 1, 4, 0.0), (0, 1, 5, -0.0), (0, 1, 9, 0.5),
    (0, 2, 1, Double.NaN), (0, 2, 2, Double.NegativeInfinity), (0, 2, 3, -2.0), (0, 2, 4, -2.0),
    (0, 3, 6, -3.25),
    (1, 1, 1, -0.1234567891), (1, 1, 2, -0.1234565), (1, 1, 3, -7.0), (1, 2, 3, -1e-9))
  private val dictionary = (1 to 6).map(w => PolyTermEntry(0, w, s"w$w", 1L, 1L)) ++
    (1 to 3).map(w => PolyTermEntry(1, w, s"m$w", 1L, 1L))

  test("top terms on the driver == the window ranking, vanilla") {
    val beta = betaRows.filter(_._1 == 0).map { case (_, t, w, s) => (t, w, s) }.toDF("topic", "termId", "elogbeta")
    val terms = dictionary.filter(_.lang == 0).map(t => TermEntry(t.termId, t.term, t.df, t.tf)).toDS()
    for (k <- Seq(0, 1, 3, 10)) {
      val ref = ParseReference.rankTerms(beta, terms.toDF(), VanillaDocs.keys, k)
        .orderBy($"topic", $"rank").collect().toSeq
      assert(Display.topTermsPerTopic(beta, terms, k).collect().toSeq == ref, s"k = $k")
    }
  }

  test("top terms on the driver == the window ranking, polylingual, scores rounded") {
    val beta = betaRows.toDF("lang", "topic", "termId", "elogbeta")
    val terms = dictionary.toDS()
    for (k <- Seq(1, 2, 10)) {
      val ref = ParseReference.rankTerms(beta, terms.toDF(), PolyDocs.keys, k)
        .select($"lang", $"topic", $"rank", $"term", round($"score", 6))
        .orderBy($"lang", $"topic", $"rank").collect().toSeq
      assert(PolyTrainer.topTermsFromRows(beta, terms, k).collect().toSeq == ref, s"k = $k")
    }
  }
}
