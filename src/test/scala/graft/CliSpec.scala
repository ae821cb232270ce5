package graft

import java.nio.file.Files

/** End-to-end drive of the CLI tools (the reference's user surface):
  * raw text → ParseCorpusCli → TrainCli (checkpointing) → resume via
  * --model-index → DisplayTopicCli artifacts readable. */
class CliSpec extends SparkSpec {

  private def writeRaw(lines: Seq[String]): String = {
    val f = TempDirs.create("graft_cli_").resolve("corpus.txt")
    Files.writeString(f, lines.mkString("\n") + "\n")
    f.toString
  }

  test("ParseCorpusCli → TrainCli → resume → DisplayTopic round-trip") {
    spark // force shared session so CLI getOrCreate reuses it
    val raw = writeRaw(Seq(
      "d0\tapple banana cherry", "d1\tbanana apple apple", "d2\tcherry banana fruit",
      "d3\tapple fruit fruit cherry", "d4\tbanana banana apple",
      "d5\tiron copper zinc", "d6\tcopper iron iron", "d7\tzinc copper metal",
      "d8\tiron metal metal zinc", "d9\tcopper copper zinc"))
    val corpusDir = TempDirs.create("graft_cli_corpus_").toString
    val modelDir = TempDirs.create("graft_cli_model_").toString

    cli.ParseCorpusCli.main(Array("--input", raw, "--output", corpusDir))
    assert(spark.read.parquet(s"$corpusDir/document").count() == 10)
    assert(spark.read.parquet(s"$corpusDir/term").count() == 8)
    assert(spark.read.parquet(s"$corpusDir/title").count() == 10)

    cli.TrainCli.main(Array("--corpus", corpusDir, "--output", modelDir,
      "--topics", "2", "--iterations", "3", "--local-iterations", "10", "--seed", "42"))
    assert(spark.read.parquet(s"$modelDir/alpha-3").count() == 2)
    assert(spark.read.parquet(s"$modelDir/beta-3").count() > 0)
    assert(spark.read.parquet(s"$modelDir/gamma-3").count() == 10)

    // resume two more iterations from snapshot 3 (reference -modelindex)
    cli.TrainCli.main(Array("--corpus", corpusDir, "--output", modelDir,
      "--topics", "2", "--iterations", "5", "--local-iterations", "10", "--seed", "42",
      "--model-index", "3"))
    assert(spark.read.parquet(s"$modelDir/alpha-5").count() == 2)

    // stdout golden: the reference's DisplayTopic layout
    // (DisplayTopic.java:114-137) — '=' banner per topic, then
    // "term\t\tscore" lines
    val topicOut = captureStdout {
      cli.DisplayTopicCli.main(Array("--model", modelDir, "--index", "5",
        "--corpus", corpusDir, "--top", "3"))
    }
    val topicLines = topicOut.split("\n").toSeq
    val banner = "=============================="
    val scoreLine = """^\S+\t\t-?\d+(\.\d+)?(E-?\d+)?$""".r
    // two topics → two banner blocks of exactly 3 ranked lines each
    assert(topicLines.count(_ == banner) == 4, topicOut)
    assert(topicLines.contains(s"Top ranked 3 terms for Topic 1"), topicOut)
    assert(topicLines.contains(s"Top ranked 3 terms for Topic 2"), topicOut)
    val ranked = topicLines.filter(l => scoreLine.matches(l))
    assert(ranked.size == 6, topicOut)
    // the two planted vocabularies separate: fruit terms top one topic,
    // metal terms the other
    val fruit = Set("apple", "banana", "cherry", "fruit")
    val byTopic = topicOut.split(banner).filter(_.contains("\t\t"))
    assert(byTopic.length == 2, topicOut)
    val sets = byTopic.map(_.split("\n").filter(_.contains("\t\t"))
      .map(_.split("\t\t")(0)).toSet)
    assert(sets.exists(s => s.subsetOf(fruit)) && sets.exists(s => s.intersect(fruit).isEmpty),
      topicOut)

    // stdout golden: DisplayDocument's "docId g0 g1 ... gK " row shape
    // (DisplayDocument.java:94-98) — raw gamma, trailing space
    val docOut = captureStdout {
      cli.DisplayDocumentCli.main(Array("--model", modelDir, "--index", "5", "--rows", "5"))
    }
    val docLines = docOut.split("\n").filter(_.nonEmpty).toSeq
    assert(docLines.size == 5, docOut)
    val docLine = """^\d+ (-?\d+(\.\d+)?(E-?\d+)? )+$""".r
    docLines.foreach(l => assert(docLine.matches(l), s"bad row shape: '$l'"))
    // 2 topics → docId + exactly 2 gamma values, ids ascending from 1
    assert(docLines.map(_.trim.split(" ")(0).toInt) == (1 to 5),
      docOut)
    docLines.foreach(l => assert(l.trim.split(" ").length == 3, l))
  }

  private def captureStdout(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) { body }
    buf.toString("UTF-8")
  }

  test("polylingual CLI: parse + train") {
    spark
    val raw = writeRaw(Seq(
      "d0\tapple banana\tpomme banane", "d1\tbanana apple\tbanane pomme",
      "d2\tiron copper\tnull", "d3\tcopper iron\tcuivre fer"))
    val corpusDir = TempDirs.create("graft_cli_poly_").toString
    val modelDir = TempDirs.create("graft_cli_polym_").toString
    cli.ParseCorpusCli.main(Array("--input", raw, "--output", corpusDir,
      "--languages", "2"))
    assert(spark.read.parquet(s"$corpusDir/document").count() == 4)
    cli.TrainCli.main(Array("--corpus", corpusDir, "--output", modelDir,
      "--topics", "2", "--iterations", "2", "--local-iterations", "5",
      "--languages", "2", "--seed", "3"))
    assert(spark.read.parquet(s"$modelDir/alpha-2").count() == 2)
    assert(spark.read.parquet(s"$modelDir/beta-2").groupBy("lang").count().count() == 2)
    cli.DisplayTopicCli.main(Array("--model", modelDir, "--index", "2",
      "--corpus", corpusDir, "--top", "2", "--languages", "2"))
  }
}
