package graft

import graft.pipeline.Unigram
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) trainer: segmentation properties,
  * EM quality vs a uniform model, determinism, and encode round-trips. */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  // compositional corpus: every word concatenates the pieces ab/cd/ef
  private val comboFreqs: Seq[(String, Long)] = Seq(
    ("abcd", 10L), ("cdef", 10L), ("efab", 10L), ("abcdef", 5L), ("ab", 8L))

  private def comboDf = comboFreqs.flatMap { case (w, f) =>
    Seq.fill(f.toInt)(w)
  }.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")

  test("trained model reaches the target vocab and segments compositionally") {
    val cfg = Unigram.Config(targetVocab = 9, seedSize = 50, maxPieceLen = 4)
    val model = Unigram.train(comboDf, "text", cfg)
    assert(model.logProbs.size == 9, s"vocab ${model.logProbs.keys.toSeq.sorted}")
    // 6 single chars survive always; the 3 kept multi-char pieces must
    // cover the compositional structure (every word segments without
    // falling back to >50% single chars)
    val enc = Unigram.viterbiEncode("abcdef", model)
    assert(enc.mkString("") == "abcdef")
    assert(enc.length <= 3, s"got $enc") // learned pieces, not chars
  }

  test("EM beats a uniform model on corpus log-likelihood") {
    val cfg = Unigram.Config(targetVocab = 9, seedSize = 50, maxPieceLen = 4)
    val model = Unigram.train(comboDf, "text", cfg)
    val uniform = Unigram.UnigramModel(
      model.logProbs.keys.map(_ -> math.log(1.0 / model.logProbs.size)).toMap,
      cfg.maxPieceLen)
    val ll = Unigram.corpusLogLik(comboFreqs, model)
    val llU = Unigram.corpusLogLik(comboFreqs, uniform)
    assert(ll > llU, s"EM $ll vs uniform $llU")
  }

  test("encode reconstructs text incl. unknown code points") {
    val cfg = Unigram.Config(targetVocab = 9, seedSize = 50, maxPieceLen = 4)
    val model = Unigram.train(comboDf, "text", cfg)
    val docs = Seq((1L, "abcd XYZ! efab"), (2L, ""), (3L, "ab abcdef 日本"))
      .toDF("doc_id", "text")
    val out = Unigram.encode(docs, "doc_id", "text", model)
      .select($"doc_id", $"tokens").as[(Long, Seq[String])].collect().toMap
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      val expect = text.toLowerCase.split(" ").filter(_.nonEmpty).mkString("")
      assert(out(id).mkString("") == expect, s"doc $id: ${out(id)}")
    }
  }

  test("training is deterministic across repartitionings") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cfg = Unigram.Config(targetVocab = 400, seedSize = 2000, maxPieceLen = 6)
    val a = Unigram.train(docs, "text", cfg)
    val b = Unigram.train(docs.repartition(7), "text", cfg)
    assert(a.logProbs.keys.toSeq.sorted == b.logProbs.keys.toSeq.sorted)
    a.logProbs.foreach { case (p, lp) =>
      assert(math.abs(lp - b.logProbs(p)) < 1e-9, s"piece $p")
    }
  }

  test("unigram compresses real text below whitespace+char baselines") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cfg = Unigram.Config(targetVocab = 400, seedSize = 2000, maxPieceLen = 6)
    val model = Unigram.train(docs, "text", cfg)
    val stats = Unigram.encode(docs, "doc_id", "text", model)
      .agg(sum($"n_tokens")).as[Long].head()
    val chars = docs.select(sum(length(regexp_replace(lower($"text"), " ", ""))))
      .as[Long].head()
    val words = docs.select(sum(size(graft.pipeline.TextAnalysis.wsTokens($"text"))))
      .as[Long].head()
    assert(stats < chars, s"tokens $stats !< chars $chars")
    assert(stats >= words, s"tokens $stats < words $words (impossible)")
  }

  test("save/load round-trips the model and encode output exactly") {
    val cfg = Unigram.Config(targetVocab = 9, seedSize = 50, maxPieceLen = 4)
    val model = Unigram.train(comboDf, "text", cfg)
    val dir = TempDirs.create("unigram_model_spec").toString
    Unigram.saveModel(spark, model, dir)
    val loaded = Unigram.loadModel(spark, dir)
    assert(loaded.logProbs == model.logProbs)
    assert(Unigram.viterbiEncode("abcdef", loaded) ==
      Unigram.viterbiEncode("abcdef", model))
  }

  test("chars-only floor: target below alphabet size still terminates") {
    val model = Unigram.trainFromCounts(Seq(("abc", 5L), ("bcd", 3L)),
      Unigram.Config(targetVocab = 2, seedSize = 10, maxPieceLen = 3))
    // 4 chars a,b,c,d can't shrink to 2 — the floor is the alphabet
    assert(model.logProbs.keys.count(_.length == 1) == 4)
  }
}
