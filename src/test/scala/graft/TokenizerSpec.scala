package graft

import graft.pipeline.Tokenizer
import org.apache.spark.sql.functions._

/** BPE training + encode: the Sennrich ACL-2016 worked example as a
  * golden merge sequence, reconstruction/idempotence properties, and
  * determinism of the distributed word-count → driver merge-loop split. */
class TokenizerSpec extends SparkSpec {
  import spark.implicits._

  // the paper's corpus: {low:5, lower:2, newest:6, widest:3}
  private def paperDf = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
    Seq.fill(6)("newest") ++ Seq.fill(3)("widest") match {
    case ws => ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
  }

  test("golden merge sequence on the Sennrich fixture") {
    val model = Tokenizer.trainBpe(paperDf, "text", numMerges = 6)
    // hand-derived under (count desc, left asc, right asc):
    // (e,s)=9; (es,t)=9; (est,</w>)=9; (l,o)=7; (lo,w)=7; (e,w)=6
    assert(model.merges === Seq(
      ("e", "s"), ("es", "t"), ("est", "</w>"),
      ("l", "o"), ("lo", "w"), ("e", "w")))
  }

  test("fully-merged training words encode to single tokens") {
    val model = Tokenizer.trainBpe(paperDf, "text", numMerges = 100)
    val enc = Tokenizer.bpeEncode(paperDf.dropDuplicates("text"),
        "doc_id", "text", model)
      .select($"tokens").as[Seq[String]].collect()
    assert(enc.forall(_.length == 1), s"not fully merged: ${enc.toSeq}")
  }

  test("encode reconstructs the lowercased text exactly") {
    val docs = Seq(
      (1L, "The quick brown fox JUMPS over 42 lazy dogs!"),
      (2L, "naïve café — résumé ✓"),
      (3L, ""),
      (4L, "low lower newest widest unseen-word")).toDF("doc_id", "text")
    val model = Tokenizer.trainBpe(paperDf, "text", numMerges = 10)
    val out = Tokenizer.bpeEncode(docs, "doc_id", "text", model)
      .select($"doc_id", $"tokens").as[(Long, Seq[String])]
      .collect().toMap
    docs.select($"doc_id", $"text").as[(Long, String)].collect().foreach {
      case (id, text) =>
        val rebuilt = out(id).mkString("")
          .replace(Tokenizer.EndOfWord, " ").trim
        val expect = text.toLowerCase.split(" ").filter(_.nonEmpty).mkString(" ")
        assert(rebuilt === expect, s"doc $id")
    }
  }

  test("every emitted token is in the model vocab for trained words") {
    val model = Tokenizer.trainBpe(paperDf, "text", numMerges = 3)
    val vocab = model.vocab.toSet
    val toks = Tokenizer.bpeEncode(paperDf, "doc_id", "text", model)
      .select(explode($"tokens")).as[String].collect()
    assert(toks.forall(vocab.contains), s"out-of-vocab: ${toks.filterNot(vocab.contains).toSeq}")
  }

  test("training is deterministic across repartitionings") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = Tokenizer.trainBpe(docs, "text", numMerges = 40)
    val b = Tokenizer.trainBpe(docs.repartition(7), "text", numMerges = 40)
    assert(a.merges === b.merges)
    assert(a.vocab === b.vocab)
  }

  test("wordFrequencies matches a plain SQL aggregate") {
    val docs = Seq((1L, "a b a"), (2L, "B a  c")).toDF("doc_id", "text")
    val got = Tokenizer.wordFrequencies(docs, "text")
      .orderBy($"word").as[(String, Long)].collect().toSeq
    assert(got === Seq(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("save/load round-trips the model and id assignment") {
    val model = Tokenizer.trainBpe(paperDf, "text", numMerges = 6)
    val dir = TempDirs.create("bpe_model_spec").toString
    Tokenizer.saveModel(spark, model, dir)
    val loaded = Tokenizer.loadModel(spark, dir)
    assert(loaded == model)
    assert(Tokenizer.vocabIds(loaded) == Tokenizer.vocabIds(model))
  }

  test("encodeIds maps trained tokens densely and OOV to -1") {
    val model = Tokenizer.trainBpe(paperDf, "text", numMerges = 100)
    val docs = Seq((1L, "low newest"), (2L, "xyz")).toDF("doc_id", "text")
    val out = Tokenizer.bpeEncodeIds(docs, "doc_id", "text", model)
      .select($"doc_id", $"token_ids").as[(Long, Seq[Int])].collect().toMap
    val n = model.vocab.size
    assert(out(1L).forall(id => id >= 0 && id < n), s"ids ${out(1L)}")
    // x/y/z never seen in training: every piece is OOV
    assert(out(2L).forall(_ == -1), s"ids ${out(2L)}")
  }

  test("encode lowercases locale-independently (tr-TR 'I' stays 'i')") {
    val model = Tokenizer.trainBpe(paperDf, "text", numMerges = 100)
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      val toks = Tokenizer.bpeEncode(
          Seq((1L, "LOW NEWEST")).toDF("doc_id", "text"), "doc_id", "text", model)
        .select($"tokens").as[Seq[String]].head()
      // under the Turkish locale, String.toLowerCase maps I→ı (dotless),
      // which training (Spark's locale-independent lower) never produced
      assert(toks == Seq("low</w>", "newest</w>"), toks)
    } finally java.util.Locale.setDefault(saved)
  }

  test("minFreq and maxWords bound the driver-side table") {
    val docs = Seq((1L, "aa aa aa bb bb cc")).toDF("doc_id", "text")
    // minFreq=2 drops cc entirely: no merge may involve 'c'
    val m = Tokenizer.trainBpe(docs, "text", numMerges = 100, minFreq = 2L)
    assert(!m.merges.exists { case (a, b) => (a + b).contains("c") })
    // maxWords=1 keeps only the heaviest word (aa)
    val m1 = Tokenizer.trainBpe(docs, "text", numMerges = 100, maxWords = 1)
    assert(m1.merges.forall { case (a, b) => "aa</w>".contains(a.replace("</w>", "")) || a == "a" })
    assert(m1.vocab.forall(v => v == "</w>" || v.replace("</w>", "").forall(_ == 'a')))
  }

  test("wordpiece training picks by likelihood, not count") {
    // (w,##z) count 5 but score 5/(5·14) beats (x,##y) count 10 at
    // 10/(19·10): likelihood training merges the rarer-but-tighter pair
    // vocab = alphabet pieces + the merge result + [UNK], sorted
    val vocab = Tokenizer.trainWordpieceFromCounts(
      Seq(("xy", 10L), ("xz", 9L), ("wz", 5L)), numMerges = 1)
    assert(vocab == Seq("##y", "##z", "[UNK]", "w", "wz", "x"), vocab)
    // exact-tie on score falls back to (left, right) lexicographic
    val tied = Tokenizer.trainWordpieceFromCounts(
      Seq(("ab", 10L), ("ac", 3L)), numMerges = 1)
    assert(tied == Seq("##b", "##c", "[UNK]", "a", "ab"), tied)
  }

  test("wordpiece encode: greedy longest match, whole-word UNK on dead end") {
    val v = Set("un", "##able", "##ab", "##le", "a", "ab")
    assert(Tokenizer.wpEncodeWord("unable", v) == Seq("un", "##able"))
    // "abc": "ab" matches, then "##c" is unmatchable → whole word UNK
    assert(Tokenizer.wpEncodeWord("abc", v) == Seq("[UNK]"))
    assert(Tokenizer.wpEncodeWord("zzz", v) == Seq("[UNK]"))
    assert(Tokenizer.wpEncodeWord("", v) == Seq.empty)
    // a word literally starting with "##" can match a continuation piece
    // at position 0 (no marker is added there) — the cursor must advance
    // by the chars consumed from the word, not the ##-stripped length
    assert(Tokenizer.wpEncodeWord("##xy", Set("##xy")) == Seq("##xy"))
    assert(Tokenizer.wpEncodeWord("##xy", Set("##x", "##y")) ==
      Seq("##x", "##y"))
  }

  test("wordpiece vocab keeps intermediate merge results, not just finals") {
    // merges on "abcd": (##b,##c) then (##bc,##d) — final pieces [a, ##bcd],
    // but greedy encode elsewhere may need the intermediate ##bc
    val vocab = Tokenizer.trainWordpieceFromCounts(Seq(("abcd", 10L)), numMerges = 2)
    assert(vocab.contains("##bc"), vocab)
    assert(vocab.contains("##bcd"), vocab)
    assert(vocab.contains("##b") && vocab.contains("##c") && vocab.contains("##d"), vocab)
  }

  test("wordpiece trained vocab encodes its training corpus without UNK") {
    val docs = paperDf
    val vocab = Tokenizer.trainWordpiece(docs, "text", numMerges = 10)
    val enc = Tokenizer.wordpieceEncode(docs.dropDuplicates("text"),
      "doc_id", "text", vocab).collect()
    enc.foreach { r =>
      val toks = r.getSeq[String](1)
      assert(!toks.contains("[UNK]"), toks)
    }
    // concatenating the pieces (## stripped) reconstructs the word
    val byDoc = docs.dropDuplicates("text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    enc.foreach { r =>
      val rebuilt = r.getSeq[String](1).map(t =>
        if (t.startsWith("##")) t.substring(2) else t).mkString
      assert(rebuilt == byDoc(r.getLong(0)), rebuilt)
    }
  }

  test("fertilityByGroup: group sums and ratios agree with the encode exactly") {
    val docs = Seq((1L, "aa aa bb", "x"), (2L, "aa", "y"), (3L, "  ", "y"))
      .toDF("id", "text", "grp")
    val model = Tokenizer.trainBpe(docs, "text", numMerges = 2,
      maxWords = 100, minFreq = 1L)
    val enc = Tokenizer.bpeEncode(docs, "id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val out = Tokenizer.fertilityByGroup(docs, "id", "text", "grp", model)
      .orderBy($"grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    def r6(x: Double): Double =
      BigDecimal(x + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // x: 3 words (aa,aa,bb), 6 bytes; y: 1 word + the empty doc
    val tx = enc(1L).toLong; val ty = (enc(2L) + enc(3L)).toLong
    assert(out(0) == (("x", tx, 3L, 6L, r6(tx / 3.0), r6(6.0 / tx))))
    assert(out(1) == (("y", ty, 1L, 2L, r6(ty / 1.0), r6(2.0 / ty))))
    assert(enc(3L) == 0) // whitespace-only doc encodes to zero tokens
  }

  test("wordpiece vocab save/load round-trips and encodes identically") {
    val docs = paperDf
    val vocab = Tokenizer.trainWordpiece(docs, "text", numMerges = 6)
    val dir = TempDirs.create("graft_wp_test").toString
    Tokenizer.saveWordpiece(spark, vocab, dir)
    val loaded = Tokenizer.loadWordpiece(spark, dir)
    assert(loaded == vocab)
    val a = Tokenizer.wordpieceEncode(docs, "doc_id", "text", vocab)
      .orderBy($"doc_id").collect().map(_.getSeq[String](1)).toSeq
    val b = Tokenizer.wordpieceEncode(docs, "doc_id", "text", loaded)
      .orderBy($"doc_id").collect().map(_.getSeq[String](1)).toSeq
    assert(a == b)
  }
}
