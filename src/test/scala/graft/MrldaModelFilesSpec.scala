package graft

import java.io.{ByteArrayOutputStream, DataOutputStream, File}
import java.nio.file.Files

import graft.lda.{Display, LdaCheckpoint, Trainer}
import graft.model.{Doc, TermEntry}
import graft.sources.{MrldaModelFiles, MrldaSequenceFile}

/**
 * The reference's model artifacts (term/title index, alpha, beta) in
 * their SequenceFile wire formats. As with the corpus spec, the first
 * fixtures are built byte by byte from the format specs — Hadoop
 * Text/IntWritable/DoubleWritable framing, cloud9 PairOfIntFloat/HMapIDW
 * conventions — independently of the library's writers.
 */
class MrldaModelFilesSpec extends SparkSpec {

  private def tmpDir(name: String): String = {
    val d = TempDirs.create(s"mrlda_model_$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def seqFile(dir: String, keyClass: String, valClass: String,
      records: Seq[(Array[Byte], Array[Byte])]): Unit = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    def vintStr(s: String): Unit = { out.writeByte(s.length); out.write(s.getBytes("UTF-8")) }
    out.write("SEQ".getBytes("UTF-8")); out.writeByte(6)
    vintStr(keyClass); vintStr(valClass)
    out.writeBoolean(false); out.writeBoolean(false); out.writeInt(0)
    val sync = Array.tabulate[Byte](16)(i => (i * 11 + 5).toByte)
    out.write(sync)
    records.foreach { case (k, v) =>
      out.writeInt(k.length + v.length); out.writeInt(k.length)
      out.write(k); out.write(v)
    }
    out.flush()
    Files.write(new File(dir, "part-00000").toPath, bytes.toByteArray)
  }

  private def intBytes(v: Int): Array[Byte] = {
    val b = new ByteArrayOutputStream(); val o = new DataOutputStream(b)
    o.writeInt(v); b.toByteArray
  }

  test("term index: hand-built IntWritable->Text fixture decodes, incl. >127-byte text") {
    val long = "x" * 300 // forces the multi-byte vint path in Text framing
    def text(s: String): Array[Byte] = {
      val b = new ByteArrayOutputStream(); val o = new DataOutputStream(b)
      val raw = s.getBytes("UTF-8")
      if (raw.length <= 127) o.writeByte(raw.length)
      else { // Hadoop vint for positive 300: marker byte -114, then 2 BE bytes
        o.writeByte(-113 - (if (raw.length > 255) 1 else 0))
        if (raw.length > 255) o.writeByte((raw.length >> 8) & 0xff)
        o.writeByte(raw.length & 0xff)
      }
      o.write(raw); b.toByteArray
    }
    val dir = tmpDir("term")
    seqFile(dir, "org.apache.hadoop.io.IntWritable", "org.apache.hadoop.io.Text",
      Seq(intBytes(1) -> text("apple"), intBytes(2) -> text(long)))

    val rows = MrldaModelFiles.readTermIndex(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).sortBy(_._1)
    assert(rows.toSeq == Seq(1 -> "apple", 2 -> long))
  }

  test("term/title index round-trips through the library writer") {
    import spark.implicits._
    val terms = Seq((1, "apple"), (2, "banana"), (3, "ω" * 200)).toDF("termId", "term")
    val dir = tmpDir("termrt")
    MrldaModelFiles.writeIntTextIndex(terms, dir, "termId", "term")
    val back = MrldaModelFiles.readTermIndex(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).sortBy(_._1)
    assert(back.toSeq == Seq(1 -> "apple", 2 -> "banana", 3 -> "ω" * 200))
  }

  test("alpha: hand-built IntWritable->DoubleWritable fixture decodes in topic order") {
    def dbl(v: Double): Array[Byte] = {
      val b = new ByteArrayOutputStream(); val o = new DataOutputStream(b)
      o.writeDouble(v); b.toByteArray
    }
    val dir = tmpDir("alpha")
    // reference exportAlpha writes topics 1..K in order (VariationalInference.java:549-558)
    seqFile(dir, "org.apache.hadoop.io.IntWritable", "org.apache.hadoop.io.DoubleWritable",
      Seq(intBytes(1) -> dbl(0.01), intBytes(2) -> dbl(0.04), intBytes(3) -> dbl(0.02)))
    assert(MrldaModelFiles.readAlpha(spark, dir).toSeq == Seq(0.01, 0.04, 0.02))

    val rt = tmpDir("alphart")
    MrldaModelFiles.writeAlpha(spark, rt, Array(0.5, 0.25))
    assert(MrldaModelFiles.readAlpha(spark, rt).toSeq == Seq(0.5, 0.25))
  }

  test("beta: hand-built PairOfIntFloat->HMapIDW fixture reconstitutes elogbeta") {
    val dir = tmpDir("beta")
    def key(topic: Int, norm: Float): Array[Byte] = {
      val b = new ByteArrayOutputStream(); val o = new DataOutputStream(b)
      o.writeInt(topic); o.writeFloat(norm); b.toByteArray
    }
    def hmap(entries: (Int, Double)*): Array[Byte] = {
      val b = new ByteArrayOutputStream(); val o = new DataOutputStream(b)
      o.writeInt(entries.size)
      entries.foreach { case (k, v) => o.writeInt(k); o.writeDouble(v) }
      b.toByteArray
    }
    seqFile(dir, "edu.umd.cloud9.io.pair.PairOfIntFloat", "edu.umd.cloud9.io.map.HMapIDW",
      Seq(
        key(1, 2.0f) -> hmap(10 -> 1.5, 11 -> 0.5),
        key(2, 1.0f) -> hmap(10 -> 0.25)))
    val rows = MrldaModelFiles.readBeta(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).sortBy(t => (t._1, t._2))
    // elogbeta = digamma(lambda) - normalizer
    assert(rows.toSeq == Seq((1, 10, -0.5), (1, 11, -1.5), (2, 10, -0.75)))
  }

  test("informed prior: hand-built IntWritable->ArrayListOfIntsWritable fixture decodes") {
    def ints(vs: Int*): Array[Byte] = {
      val b = new ByteArrayOutputStream(); val o = new DataOutputStream(b)
      o.writeInt(vs.size); vs.foreach(o.writeInt); b.toByteArray
    }
    val dir = tmpDir("prior")
    seqFile(dir, "org.apache.hadoop.io.IntWritable",
      "edu.umd.cloud9.io.array.ArrayListOfIntsWritable",
      Seq(intBytes(1) -> ints(3, 7, 12), intBytes(2) -> ints()))
    val rows = MrldaModelFiles.readInformedPrior(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getSeq[Int](1)).sortBy(_._1)
    assert(rows.toSeq == Seq(1 -> Seq(3, 7, 12), 2 -> Seq.empty))
  }

  test("record-compressed container decodes through the same reader") {
    // record-compressed variant (header compress=true + DefaultCodec, each
    // value zlib-deflated individually) — what a reference install with
    // mapred.output.compress=true leaves on disk
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    def vintStr(s: String): Unit = { out.writeByte(s.length); out.write(s.getBytes("UTF-8")) }
    out.write("SEQ".getBytes("UTF-8")); out.writeByte(6)
    vintStr("org.apache.hadoop.io.IntWritable")
    vintStr("cc.mrlda.Document")
    out.writeBoolean(true)  // value compression ON
    out.writeBoolean(false) // not block-compressed
    vintStr("org.apache.hadoop.io.compress.DefaultCodec")
    out.writeInt(0)
    val sync = Array.tabulate[Byte](16)(i => (i * 13 + 1).toByte)
    out.write(sync)
    val value = { // {5: 2} with no gamma, per Document.write
      val b = new ByteArrayOutputStream(); val o = new DataOutputStream(b)
      o.writeInt(1); o.writeInt(5); o.writeInt(2); o.writeInt(0); b.toByteArray
    }
    val deflated = {
      val d = new java.util.zip.Deflater()
      d.setInput(value); d.finish()
      val buf = new Array[Byte](256)
      val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    out.writeInt(4 + deflated.length); out.writeInt(4)
    out.writeInt(42); out.write(deflated)
    out.flush()
    val dir = tmpDir("compressed")
    Files.write(new File(dir, "part-00000").toPath, bytes.toByteArray)

    val docs = MrldaSequenceFile.readDocs(spark, dir).collect()
    assert(docs.length == 1)
    assert(docs(0).docId == 42L && docs(0).counts == Map(5 -> 2) && docs(0).numTokens == 2L)
  }

  test("polylingual legacy import: per-language beta files resume PolyTrainer") {
    import spark.implicits._
    import graft.model.PolyDoc
    import graft.polylda.PolyTrainer
    val rnd = new java.util.Random(13L)
    val docs = (1 to 40).map { i =>
      val t = i % 2
      def bag(base: Int) = (0 until 10).map(_ => base + t * 4 + rnd.nextInt(4) + 1)
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val c = Map(0 -> bag(0), 1 -> bag(0))
      val n = c.map { case (l, m) => l -> m.values.sum.toLong }
      PolyDoc(i.toLong, c, n, n.values.sum, None)
    }
    val ds = docs.toDS()
    val numTerms = Map(0 -> 8, 1 -> 8)
    val model = PolyTrainer.train(ds, numTerms,
      PolyTrainer.Config(numTopics = 2, maxIterations = 2, localIterations = 8, seed = 4L))

    // export per-language beta in the reference layout from the model's rows
    val betaRows = model.beta.toSeq.flatMap { case (lang, termMap) =>
      termMap.toSeq.flatMap { case (termId, arr) =>
        arr.zipWithIndex.map { case (v, t) => (lang, t + 1, termId, v) }
      }
    }.toDF("lang", "topic", "termId", "elogbeta")
    val alphaDir = tmpDir("poly_alpha"); val corpusDir = tmpDir("poly_corpus")
    MrldaModelFiles.writeAlpha(spark, alphaDir, model.alpha)
    val langDirs = Seq(0, 1).map { l =>
      val d = tmpDir(s"poly_beta_$l")
      MrldaModelFiles.writeBeta(
        betaRows.filter($"lang" === l).select($"topic", $"termId", $"elogbeta"), d)
      d
    }
    MrldaSequenceFile.writePolyDocs(ds, corpusDir, numLanguages = 2)

    val ckpt = tmpDir("poly_imported")
    MrldaModelFiles.importLegacyPolyCheckpoint(spark, alphaDir, langDirs, ckpt,
      iter = 2, corpusPath = Some(corpusDir))
    assert(LdaCheckpoint.loadAlpha(spark, ckpt, 2).toSeq == model.alpha.toSeq)
    val back = spark.read.parquet(s"$ckpt/beta-2")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).sorted
    val orig = betaRows.select($"lang", $"topic", $"termId", $"elogbeta")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).sorted
    assert(back.toSeq == orig.toSeq)

    val resumed = PolyTrainer.train(ds, numTerms,
      PolyTrainer.Config(numTopics = 2, maxIterations = 4, localIterations = 8, seed = 4L,
        checkpointDir = Some(ckpt), resumeFrom = Some((ckpt, 2))))
    assert(resumed.iterations == 4)
    assert(java.lang.Double.isFinite(resumed.logLikelihood))
  }

  test("DumpSeqFileCli prints key\\tvalue rows for each format") {
    import spark.implicits._
    val dictDir = tmpDir("dump_dict")
    MrldaModelFiles.writeIntTextIndex(
      Seq((1, "apple"), (2, "banana")).toDF("termId", "term"), dictDir, "termId", "term")
    val alphaDir = tmpDir("dump_alpha")
    MrldaModelFiles.writeAlpha(spark, alphaDir, Array(0.25, 0.75))
    val docsDir = tmpDir("dump_docs")
    MrldaSequenceFile.writeDocs(
      Seq(graft.model.Doc(7L, Map(1 -> 2), 2L, None)).toDS(), docsDir)

    def capture(args: Array[String]): String = {
      val buf = new ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        graft.cli.DumpSeqFileCli.main(args)
      }
      buf.toString("UTF-8")
    }
    assert(capture(Array("--input", dictDir, "--format", "dict")) ==
      "1\tapple\n2\tbanana\n")
    assert(capture(Array("--input", alphaDir, "--format", "alpha")) ==
      "1\t0.25\n2\t0.75\n")
    assert(capture(Array("--input", docsDir, "--format", "docs")) ==
      "7\t{1=2} tokens=2\n")
  }

  test("legacy model import: checkpoint resumes and displays identically") {
    import spark.implicits._
    // train a tiny model, export it in the REFERENCE layout, re-import as
    // a graft checkpoint, and the display output must match exactly
    val rnd = new java.util.Random(5L)
    val docs = (1 to 60).map { i =>
      val t = i % 2
      val counts = (0 until 15).map(_ => t * 5 + rnd.nextInt(5) + 1)
        .groupBy(identity).map { case (k, v) => k -> v.size }
      Doc(i.toLong, counts, counts.values.sum.toLong, None)
    }
    val ds = docs.toDS()
    val model = Trainer.train(ds, 10,
      Trainer.Config(numTopics = 2, maxIterations = 3, localIterations = 10, seed = 9L))

    val legacyAlpha = tmpDir("legacy_alpha")
    val legacyBeta = tmpDir("legacy_beta")
    val legacyCorpus = tmpDir("legacy_corpus")
    MrldaModelFiles.writeAlpha(spark, legacyAlpha, model.alpha)
    MrldaModelFiles.writeBeta(Display.betaToDF(spark, model), legacyBeta)
    MrldaSequenceFile.writeDocs(ds, legacyCorpus)

    val ckpt = tmpDir("imported")
    MrldaModelFiles.importLegacyCheckpoint(spark, legacyAlpha, legacyBeta,
      ckpt, iter = 3, corpusPath = Some(legacyCorpus))

    // alpha and beta round the trip bit-exactly
    assert(LdaCheckpoint.loadAlpha(spark, ckpt, 3).toSeq == model.alpha.toSeq)
    val terms = (1 to 10).map(i => TermEntry(i, s"t$i", 1L, 1L)).toDS()
    val fromImport = Display.topTermsPerTopic(
      LdaCheckpoint.loadBeta(spark, ckpt, 3), terms, k = 5).collect().map(_.toString)
    val fromModel = Display.topTermsPerTopic(
      Display.betaToDF(spark, model), terms, k = 5).collect().map(_.toString)
    assert(fromImport.toSeq == fromModel.toSeq)

    // and training RESUMES from the imported checkpoint
    val resumed = Trainer.train(ds, 10,
      Trainer.Config(numTopics = 2, maxIterations = 5, localIterations = 10, seed = 9L,
        checkpointDir = Some(ckpt), resumeFrom = Some((ckpt, 3))))
    assert(resumed.iterations == 5)
    assert(java.lang.Double.isFinite(resumed.logLikelihood))
  }
}
