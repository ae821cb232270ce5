package graft.cli

import graft.GraftSession
import graft.corpus.ParseCorpus
import graft.lda.{Display, InformedPrior, LdaCheckpoint, Trainer}
import graft.model.{Doc, TermEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Command-line tools mirroring the reference's user surface — its entire API
 * is six `hadoop jar` tools (reference README.md:38-101; options in
 * ParseCorpusOptions.java:54-238 and VariationalInferenceOptions.java:55-273).
 * Here each is a `spark-submit`-able main over parquet datasets:
 *
 *   graft.cli.ParseCorpusCli   --input raw.txt --output corpus/
 *                              [--min-df 0.0] [--max-df 1.0] [--stopwords f]
 *                              [--lowercase] [--analyzer unicode]
 *                              [--languages L]        (polylingual corpus)
 *   graft.cli.TrainCli         --corpus corpus/ --output model/ --topics K
 *                              [--iterations 30] [--local-iterations 100]
 *                              [--symmetric-alpha] [--random-start]
 *                              [--model-index i]      (resume, reference -modelindex)
 *                              [--informed-prior f]   [--seed 42]
 *                              [--languages L]        (polylingual training)
 *   graft.cli.InformedPriorCli --words f --corpus corpus/ --output prior/
 *   graft.cli.DisplayTopicCli  --model model/ --index i --corpus corpus/ [--top 10]
 *   graft.cli.DisplayDocumentCli --model model/ --index i
 *   graft.cli.ImportModelCli   --alpha alpha-i --beta beta-i --output model/
 *                              --index i [--corpus docDir]   (migrate an
 *                              existing Mr.LDA model's SequenceFiles into a
 *                              graft checkpoint: display + resume-ready)
 *   graft.cli.DumpSeqFileCli   --input path [--format docs|poly|dict|title|
 *                              alpha|beta|prior] [--rows 20]  (the
 *                              reference's ReadSequenceFile inspection tool)
 *
 * Output layout matches the reference's per-iteration files: `model/alpha-i`,
 * `model/beta-i`, `model/gamma-i` (parquet dirs instead of SequenceFiles).
 */
object Args {
  /** presence-only flags — they never consume a following value, so
    * `--lowercase input.txt` can't swallow a positional neighbor */
  private val BooleanFlags = Set("lowercase", "symmetric-alpha", "random-start")

  /** tiny `--key value` / `--flag` parser */
  def parse(argv: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val a = argv(i)
      require(a.startsWith("--"), s"unexpected argument: $a")
      val key = a.drop(2)
      if (!BooleanFlags(key) && i + 1 < argv.length && !argv(i + 1).startsWith("--")) {
        m(key) = argv(i + 1); i += 2
      } else { m(key) = "true"; i += 1 }
    }
    m.toMap
  }

  /** Runs `f` with a SparkSession; stops it afterwards only if this call
    * created it (so the tools are embeddable in a host application or test
    * harness without killing its session). */
  def withSession[A](name: String)(f: SparkSession => A): A = {
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
    val s = existing.getOrElse {
      val created = GraftSession.builder(name)
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .getOrCreate()
      created.sparkContext.setLogLevel("WARN")
      created
    }
    try f(s) finally if (existing.isEmpty) s.stop()
  }
}

object ParseCorpusCli {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Args.withSession("graft-parse-corpus") { spark =>
    val input = a("input")
    val output = a("output")
    val langs = a.getOrElse("languages", "1").toInt
    if (langs > 1) {
      // reject flags the polylingual pipeline does not implement rather than
      // silently producing a different corpus
      Seq("stopwords", "analyzer").foreach(f =>
        require(!a.contains(f), s"--$f is not supported with --languages > 1"))
      import graft.polylda.PolyParseCorpus
      val r = PolyParseCorpus.fromRawLines(spark, input, PolyParseCorpus.Config(
        numLanguages = langs,
        minDfFraction = a.getOrElse("min-df", "0.0").toDouble,
        maxDfFraction = a.getOrElse("max-df", "1.0").toDouble,
        lowercase = a.contains("lowercase")))
      r.docs.write.mode("overwrite").parquet(s"$output/document")
      r.terms.write.mode("overwrite").parquet(s"$output/term")
      println(s"[graft] polylingual corpus: ${r.docs.count()} docs, " +
        s"terms per language: ${r.terms.groupBy("lang").count().collect().mkString(", ")}")
    } else {
      // built-in name or any fully-qualified class name, reflection-loaded
      // like the reference's Lucene analyzer option (a Function1[String,
      // Seq[String]] impl, or a Lucene Analyzer when Lucene is on the
      // classpath) — see ParseCorpus.Analyzers.byClassName
      val analyzer = a.get("analyzer") match {
        case Some("unicode") => Some(ParseCorpus.Analyzers.unicode)
        case Some("english") => Some(ParseCorpus.Analyzers.english)
        case Some(className) if className.contains(".") =>
          Some(ParseCorpus.Analyzers.byClassName(className))
        case Some(other) =>
          sys.error(s"unknown analyzer: $other (built-in: unicode, english; or a class name)")
        case None => None
      }
      val stop = a.get("stopwords").map(f =>
        scala.io.Source.fromFile(f).getLines().map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      val r = ParseCorpus.fromRawLines(spark, input, ParseCorpus.Config(
        minDfFraction = a.getOrElse("min-df", "0.0").toDouble,
        maxDfFraction = a.getOrElse("max-df", "1.0").toDouble,
        stopwords = stop,
        lowercase = a.contains("lowercase"),
        analyzer = analyzer))
      r.docs.write.mode("overwrite").parquet(s"$output/document")
      r.terms.write.mode("overwrite").parquet(s"$output/term")
      r.titles.write.mode("overwrite").parquet(s"$output/title")
      println(s"[graft] corpus: ${r.stats}")
    }
    }
  }
}

object TrainCli {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Args.withSession("graft-train") { spark =>
    import spark.implicits._
    val corpusDir = a("corpus")
    val output = a("output")
    val langs = a.getOrElse("languages", "1").toInt
    if (langs > 1) {
      Seq("informed-prior", "symmetric-alpha").foreach(f =>
        require(!a.contains(f), s"--$f is not supported with --languages > 1"))
      import graft.polylda.{PolyTrainer}
      import graft.model.{PolyDoc, PolyTermEntry}
      val docs = spark.read.parquet(s"$corpusDir/document").as[PolyDoc]
      val terms = spark.read.parquet(s"$corpusDir/term").as[PolyTermEntry]
      val numTerms = terms.groupBy($"lang").agg(max($"termId").as("v"))
        .collect().map(r => r.getAs[Int]("lang") -> r.getAs[Int]("v")).toMap
      val m = PolyTrainer.train(docs, numTerms, PolyTrainer.Config(
        numTopics = a("topics").toInt,
        maxIterations = a.getOrElse("iterations", "30").toInt,
        localIterations = a.getOrElse("local-iterations", "100").toInt,
        randomStartGamma = a.contains("random-start"),
        seed = a.getOrElse("seed", "42").toLong,
        checkpointDir = Some(output),
        resumeFrom = a.get("model-index").map(i => (output, i.toInt))))
      println(s"[graft] polylingual model: ${m.iterations} iterations, LL=${m.logLikelihood}")
    } else {
      val docs = spark.read.parquet(s"$corpusDir/document").as[Doc]
      val numTerms = spark.read.parquet(s"$corpusDir/term").agg(max($"termId")).as[Int].head()
      // the prior dir holds InformedPriorCli's output, i.e. ALREADY-compiled
      // (topic, termId) rows — pass them straight through
      val prior = a.get("informed-prior").map(f => spark.read.parquet(f))
      val m = Trainer.train(docs, numTerms, Trainer.Config(
        numTopics = a("topics").toInt,
        maxIterations = a.getOrElse("iterations", "30").toInt,
        localIterations = a.getOrElse("local-iterations", "100").toInt,
        symmetricAlpha = a.contains("symmetric-alpha"),
        randomStartGamma = a.contains("random-start"),
        seed = a.getOrElse("seed", "42").toLong,
        prior = prior,
        checkpointDir = Some(output),
        resumeFrom = a.get("model-index").map(i => (output, i.toInt))))
      println(s"[graft] model: ${m.iterations} iterations, LL=${m.logLikelihood}, " +
        s"llHistory=${m.llHistory.mkString(", ")}")
    }
    }
  }
}

object InformedPriorCli {
  /** words file: one line per topic, whitespace-separated seed words
    * (reference InformedPrior.java:139-170 input format). */
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Args.withSession("graft-informed-prior") { spark =>
    import spark.implicits._
    val lines = scala.io.Source.fromFile(a("words")).getLines().toSeq
    val seeds = lines.zipWithIndex.flatMap { case (line, i) =>
      line.trim.split("\\s+").filter(_.nonEmpty).map(w => (i + 1, w))
    }.toDF("topic", "term")
    import graft.model.TermEntry
    val terms = spark.read.parquet(s"${a("corpus")}/term").as[TermEntry]
    InformedPrior.compile(seeds, terms)
      .write.mode("overwrite").parquet(a("output"))
    println(s"[graft] informed prior compiled for ${lines.length} topics")
    }
  }
}

object DisplayTopicCli {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Args.withSession("graft-display-topic") { spark =>
    import spark.implicits._
    import graft.model.{PolyTermEntry, TermEntry}
    val topK = a.getOrElse("top", "10").toInt
    val beta = LdaCheckpoint.loadBeta(spark, a("model"), a("index").toInt)
    // both rankings return their rows ordered by (lang…, topic, rank)
    if (a.getOrElse("languages", "1").toInt > 1) {
      val terms = spark.read.parquet(s"${a("corpus")}/term").as[PolyTermEntry]
      graft.polylda.PolyTrainer.topTermsFromRows(beta, terms, topK)
        .collect().groupBy(r => (r.getAs[Int]("lang"), r.getAs[Int]("topic")))
        .toSeq.sortBy(_._1)
        .foreach { case ((lang, topic), rows) =>
          println(s"Language $lang, Topic $topic:")
          rows.foreach(r => println(s"${r.getAs[String]("term")}\t\t${r.getAs[Double]("score")}"))
        }
    } else {
      val terms = spark.read.parquet(s"${a("corpus")}/term").as[TermEntry]
      // stdout parity with the reference's DisplayTopic
      // (DisplayTopic.java:114-137, README.md:371-381): a '=' banner per
      // topic, then one "term\t\tscore" line per ranked term
      Display.topTermsPerTopic(beta, terms, topK).collect().groupBy(_.getAs[Int]("topic")).toSeq.sortBy(_._1)
        .foreach { case (topic, rows) =>
          println("==============================")
          println(s"Top ranked $topK terms for Topic $topic")
          println("==============================")
          rows.foreach(r => println(s"${r.getAs[String]("term")}\t\t${r.getAs[Double]("score")}"))
        }
    }
    }
  }
}

object DisplayDocumentCli {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Args.withSession("graft-display-document") { spark =>
    import spark.implicits._
    // stdout parity with the reference's DisplayDocument
    // (DisplayDocument.java:94-98): "docId g0 g1 ... gK " per line — RAW
    // gamma values, space-separated, trailing space included
    // null-gamma rows (a pre-training corpus imported by ImportModelCli)
    // are skipped, like the reference's precondition and the old
    // explode-based path — not a crash
    val gamma = LdaCheckpoint.loadGamma(spark, a("model"), a("index").toInt)
    gamma.select($"docId", $"gamma").filter($"gamma".isNotNull).orderBy($"docId")
      .take(a.getOrElse("rows", "100").toInt)
      .foreach { r =>
        val sb = new StringBuilder
        sb.append(r.getLong(0)).append(' ')
        r.getSeq[Double](1).foreach { g => sb.append(g).append(' ') }
        println(sb.result())
      }
    }
  }
}

/** Migrate an existing Mr.LDA model directory (alpha-<i> / beta-<i>
  * SequenceFiles, optionally the gamma-carrying document files) into a
  * graft checkpoint that DisplayTopicCli reads directly and TrainCli
  * resumes from via --model-index. */
object ImportModelCli {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Args.withSession("graft-import-model") { spark =>
      val iter = a("index").toInt
      graft.sources.MrldaModelFiles.importLegacyCheckpoint(
        spark, a("alpha"), a("beta"), a("output"), iter, a.get("corpus"))
      println(s"[graft] imported legacy model into ${a("output")} at index $iter")
    }
  }
}

/** Inspect any reference-format SequenceFile (the reference's
  * `ReadSequenceFile` utility, README.md:66-75,371-381): prints up to
  * --rows records as "key\tvalue" lines. --format selects the wire
  * layout: docs | poly | dict | title | alpha | beta | prior. */
object DumpSeqFileCli {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Args.withSession("graft-dump-seqfile") { spark =>
      import graft.sources.{MrldaModelFiles, MrldaSequenceFile}
      val path = a("input")
      val n = a.getOrElse("rows", "20").toInt
      a.getOrElse("format", "docs") match {
        case "docs" =>
          MrldaSequenceFile.readDocs(spark, path).orderBy("docId").take(n).foreach { d =>
            val counts = d.counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
            println(s"${d.docId}\t{$counts} tokens=${d.numTokens}" +
              d.gamma.map(g => s" gamma=[${g.mkString(",")}]").getOrElse(""))
          }
        case "poly" =>
          MrldaSequenceFile.readPolyDocs(spark, path).orderBy("docId").take(n).foreach { d =>
            val langs = d.counts.toSeq.sortBy(_._1).map { case (l, m) =>
              s"lang$l:{${m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")}}"
            }.mkString(" ")
            println(s"${d.docId}\t$langs tokens=${d.totalTokens}")
          }
        case "dict" | "title" =>
          val (idCol, strCol) = if (a("format") == "dict") ("termId", "term") else ("docId", "title")
          MrldaModelFiles.readIntTextIndex(spark, path, idCol, strCol)
            .orderBy(idCol).take(n)
            .foreach(r => println(s"${r.getInt(0)}\t${r.getString(1)}"))
        case "alpha" =>
          MrldaModelFiles.readAlpha(spark, path).zipWithIndex
            .take(n).foreach { case (v, i) => println(s"${i + 1}\t$v") }
        case "beta" =>
          MrldaModelFiles.readBeta(spark, path).orderBy("topic", "termId").take(n)
            .foreach(r => println(s"${r.getInt(0)}\t${r.getInt(1)}\t${r.getDouble(2)}"))
        case "prior" =>
          MrldaModelFiles.readInformedPrior(spark, path).orderBy("topic").take(n)
            .foreach(r => println(s"${r.getInt(0)}\t[${r.getSeq[Int](1).mkString(",")}]"))
        case other => sys.error(s"unknown --format: $other")
      }
    }
  }
}
