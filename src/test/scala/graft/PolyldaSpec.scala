package graft

import graft.polylda.{PolyLdaModel, PolyParseCorpus, PolyTrainer}

/**
 * Polylingual LDA: per-language corpus pipeline + tied-gamma training
 * (reference: cc/mrlda/polylda). Two "languages" share the topic structure —
 * language 1 is a token-level translation of language 0 — so a correctly
 * tied gamma must align each topic's top terms ACROSS languages.
 */
class PolyldaSpec extends SparkSpec {
  import spark.implicits._

  private val en2fr = Map(
    "apple" -> "pomme", "banana" -> "banane", "cherry" -> "cerise", "fruit" -> "lefruit",
    "iron" -> "fer", "copper" -> "cuivre", "zinc" -> "lezinc", "metal" -> "lemetal")
  private def translate(s: String) = s.split(" ").map(en2fr).mkString(" ")

  private def corpus = {
    val fruit = Seq("apple banana cherry", "banana apple apple", "cherry banana fruit",
      "apple fruit fruit cherry", "banana banana apple")
    val metal = Seq("iron copper zinc", "copper iron iron", "zinc copper metal",
      "iron metal metal zinc", "copper copper zinc")
    val rows = (fruit ++ metal).zipWithIndex.map { case (t, i) =>
      // doc 3 is missing language 1 (the reference's literal "null" slot)
      val l1 = if (i == 3) "null" else translate(t)
      (i.toLong, s"d$i", Seq(t, l1))
    }
    rows.toDF("docId", "title", "texts")
  }

  test("per-language dictionaries: dense 1-based ids ranked (df desc, tf desc, term)") {
    val r = PolyParseCorpus.run(corpus, PolyParseCorpus.Config(numLanguages = 2))
    val byLang = r.terms.collect().groupBy(_.lang)
    assert(byLang.keySet == Set(0, 1))
    byLang.foreach { case (_, ts) =>
      val ids = ts.map(_.termId).sorted
      assert(ids.head == 1 && ids.last == ids.length, s"ids not dense 1-based: ${ids.toSeq}")
      val sorted = ts.sortBy(_.termId)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => (a.df > b.df) || (a.df == b.df && a.tf > b.tf) ||
          (a.df == b.df && a.tf == b.tf && a.term < b.term)
        case _ => true
      })
    }
    // doc 3's terms are counted in lang 0 but absent from lang 1 df
    val l0 = byLang(0).map(t => t.term -> t).toMap
    val l1 = byLang(1).map(t => t.term -> t).toMap
    assert(l0("apple").df == 4) // docs 0, 1, 3, 4
    assert(l1("pomme").df == 3) // doc 3 missing in lang 1
    assert(l0("cherry").df == 3) // docs 0, 2, 3
    assert(l1("cerise").df == 2) // doc 3 missing in lang 1
    assert(r.docsPerLanguage == Map(0 -> 10L, 1 -> 9L))
  }

  test("encoded docs carry per-language count maps; missing language has no slot") {
    val r = PolyParseCorpus.run(corpus, PolyParseCorpus.Config(numLanguages = 2))
    val docs = r.docs.collect().map(d => d.docId -> d).toMap
    assert(docs.size == 10)
    assert(docs(3L).counts.keySet == Set(0))
    assert(docs(0L).counts.keySet == Set(0, 1))
    assert(docs(0L).numTokens(0) == 3 && docs(0L).numTokens(1) == 3)
    assert(docs(3L).totalTokens == 4) // lang-0 tokens only
    // same multiset of counts in both languages for translated docs
    assert(docs(0L).counts(0).values.toSeq.sorted == docs(0L).counts(1).values.toSeq.sorted)
    // both maps iterate the languages ascending, whatever the scheduling
    docs.values.foreach { d =>
      assert(d.counts.keys.toSeq == d.counts.keys.toSeq.sorted, s"doc ${d.docId}: ${d.counts.keys}")
      assert(d.numTokens.keys.toSeq == d.counts.keys.toSeq, s"doc ${d.docId}: ${d.numTokens.keys}")
    }
  }

  test("tied-gamma training aligns topics across languages") {
    val r = PolyParseCorpus.run(corpus, PolyParseCorpus.Config(numLanguages = 2))
    val numTerms = r.terms.collect().groupBy(_.lang).map { case (l, ts) => l -> ts.length }
    // seed-sensitive on a 10-doc corpus (local optima) — seed 3 reaches the
    // global cluster structure; same caveat as LdaSpec / the reference's init
    val m = PolyTrainer.train(r.docs, numTerms,
      PolyTrainer.Config(numTopics = 2, maxIterations = 15, localIterations = 30, seed = 3L))

    assert(m.llHistory.nonEmpty && m.llHistory.forall(ll => !ll.isNaN && !ll.isInfinite))
    val comparable = m.llHistory.drop(1)
    assert(comparable.zip(comparable.tail).forall { case (a, b) => b >= a - 1e-9 },
      s"LL not monotone after init: ${m.llHistory}")

    val top = PolyTrainer.topTermsPerTopic(spark, m, r.terms, k = 3).collect()
    assert(top.length == 12) // 2 langs × 2 topics × 3 terms
    val fruit0 = Set("apple", "banana", "cherry", "fruit")
    val metal0 = Set("iron", "copper", "zinc", "metal")
    val cluster = Map(0 -> (fruit0, metal0),
      1 -> (fruit0.map(en2fr), metal0.map(en2fr)))
    // per (lang, topic): top terms from exactly one cluster; the SAME topic
    // index must pick the same cluster in both languages (tied gamma)
    val assign = top.groupBy(r => (r.getAs[Int]("lang"), r.getAs[Int]("topic")))
      .map { case ((lang, topic), rows) =>
        val terms = rows.map(_.getAs[String]("term")).toSet
        val (f, mtl) = cluster(lang)
        val c = if (terms.subsetOf(f)) "fruit" else if (terms.subsetOf(mtl)) "metal" else "mixed"
        (lang, topic) -> c
      }
    assert(!assign.values.exists(_ == "mixed"), s"unseparated topics: $assign")
    assert(assign((0, 1)) == assign((1, 1)) && assign((0, 2)) == assign((1, 2)),
      s"topics not aligned across languages: $assign")
    assert(assign((0, 1)) != assign((0, 2)))
  }

  test("polylingual shuffle-join E-step matches the broadcast path") {
    val r = PolyParseCorpus.run(corpus, PolyParseCorpus.Config(numLanguages = 2))
    val numTerms = r.terms.collect().groupBy(_.lang).map { case (l, ts) => l -> ts.length }
    val base = PolyTrainer.Config(numTopics = 2, maxIterations = 3, localIterations = 15,
      seed = 3L, convergence = 0.0)
    val broadcastM = PolyTrainer.train(r.docs, numTerms, base)
    val shuffleM = PolyTrainer.train(r.docs, numTerms,
      base.copy(betaBroadcastMaxEntries = 0L))
    assert(broadcastM.llHistory.length == shuffleM.llHistory.length)
    broadcastM.llHistory.zip(shuffleM.llHistory).foreach { case (a, b) =>
      assert(math.abs((a - b) / a) < 1e-8, s"LL drift between paths: $a vs $b") }
    assert(broadcastM.beta.keySet == shuffleM.beta.keySet)
    broadcastM.beta.foreach { case (l, tm) =>
      assert(tm.keySet == shuffleM.beta(l).keySet)
      tm.foreach { case (w, arr) =>
        arr.zip(shuffleM.beta(l)(w)).foreach { case (a, b) =>
          assert(math.abs(a - b) < 1e-6, s"beta drift lang=$l term=$w: $a vs $b") }
      }
    }
  }

  /** a beta-<i> snapshot: (lang, topic, termId) → the bits of E[log β] */
  private def snapshot(dir: String, i: Int): Map[(Int, Int, Int), Long] =
    graft.lda.LdaCheckpoint.loadBeta(spark, dir, i).select($"lang", $"topic", $"termId", $"elogbeta")
      .as[(Int, Int, Int, Double)].collect()
      .map { case (l, t, w, e) => (l, t, w) -> java.lang.Double.doubleToRawLongBits(e) }.toMap

  private def bits(m: PolyLdaModel): Map[(Int, Int), Seq[Long]] = m.beta.flatMap { case (l, tm) =>
    tm.map { case (w, arr) => (l, w) -> arr.toSeq.map(java.lang.Double.doubleToRawLongBits) } }

  /** Both lookups share one λ fold and one normaliser, so their beta-<i>
    * snapshots and final models agree bit for bit. */
  private def assertBitIdentical(broadcastM: PolyLdaModel, broadcastDir: String,
      slicedM: PolyLdaModel, slicedDir: String, iterations: Int): Unit = {
    for (i <- 1 to iterations) {
      val b = snapshot(broadcastDir, i)
      assert(b.nonEmpty && b == snapshot(slicedDir, i), s"beta-$i")
    }
    assert(bits(broadcastM) == bits(slicedM), "final beta")
  }

  test("a document with no language slots trains alike on both beta paths") {
    // both lookups keep it as an empty term list. The eta-free M-step's
    // E[log β] = ψ(λ) − ψ(Σλ) is ≈ −1/λ for the tiny λ this corpus leaves
    // some (lang, topic, term) entries, so a λ fold or normaliser that
    // differed by an ulp would put those entries far apart in absolute
    // terms: the lookups share both, and agree bit for bit
    val r = PolyParseCorpus.run(corpus, PolyParseCorpus.Config(numLanguages = 2))
    val numTerms = r.terms.collect().groupBy(_.lang).map { case (l, ts) => l -> ts.length }
    val docs = r.docs.union(Seq(graft.model.PolyDoc(99L, Map.empty, Map.empty, 0L, None)).toDS())
    val base = PolyTrainer.Config(numTopics = 2, maxIterations = 3, localIterations = 15,
      seed = 3L, convergence = 0.0)
    def trainTo(cfg: PolyTrainer.Config) = {
      val dir = TempDirs.create("graft_poly_nolang_").toString
      val m = PolyTrainer.train(docs, numTerms, cfg.copy(checkpointDir = Some(dir)))
      val gamma = graft.lda.LdaCheckpoint.loadGamma(spark, dir, 3)
        .select($"docId", $"gamma").as[(Long, Array[Double])].collect().toMap
      (m, gamma, dir)
    }
    val (broadcastM, broadcastG, broadcastDir) = trainTo(base)
    val (shuffleM, shuffleG, shuffleDir) = trainTo(base.copy(betaBroadcastMaxEntries = 0L))
    assert(broadcastM.llHistory.length == 3 && shuffleM.llHistory.length == 3)
    broadcastM.llHistory.zip(shuffleM.llHistory).foreach { case (a, b) =>
      assert(!a.isNaN && !a.isInfinite && math.abs((a - b) / a) < 1e-8,
        s"LL drift between paths: $a vs $b") }
    broadcastM.alpha.zip(shuffleM.alpha).foreach { case (a, b) =>
      assert(a > 0 && math.abs((a - b) / a) < 1e-6, s"alpha drift between paths: $a vs $b") }
    assert(broadcastG.keySet == shuffleG.keySet && broadcastG.contains(99L))
    broadcastG.foreach { case (d, g) =>
      g.zip(shuffleG(d)).foreach { case (a, b) =>
        assert(math.abs((a - b) / a) < 1e-8, s"gamma drift doc=$d: $a vs $b") }
    }
    assert(broadcastM.beta.keySet == shuffleM.beta.keySet)
    Seq(broadcastM, shuffleM).foreach(_.beta.foreach { case (l, tm) =>
      tm.foreach { case (w, arr) =>
        assert(arr.forall(v => !v.isNaN && !v.isInfinite && v <= 0), s"beta lang=$l term=$w") }
    })
    assertBitIdentical(broadcastM, broadcastDir, shuffleM, shuffleDir, 3)
  }

  test("both beta lookups are bit-identical over several partitions and reducers") {
    // two languages by term parity, and every seventh document without
    // its language 1
    val (k, sweeps, vocab) = (20, 20, 3000)
    val rng = new scala.util.Random(13L)
    val docs = (0 until 400).map { d =>
      val counts = Iterator.continually(1 + rng.nextInt(vocab)).distinct.take(60)
        .map(_ -> (1 + rng.nextInt(4))).toMap.groupBy(_._1 % 2).filter { case (l, _) => l == 0 || d % 7 != 0 }
      val tokens = counts.map { case (l, c) => l -> c.valuesIterator.map(_.toLong).sum }
      graft.model.PolyDoc(d.toLong, counts, tokens, tokens.valuesIterator.sum)
    }
    val nnz = docs.map(_.counts.valuesIterator.map(_.size.toLong).sum).sum
    val parts = graft.lda.EmCore.partitionsFor(docs.size, nnz, k, sweeps)
    assert(parts > 1 && graft.lda.EmCore.reducersFor(nnz * k, parts) > 1)
    def trainTo(ceiling: Long) = {
      val dir = TempDirs.create("graft_poly_lookups_").toString
      (PolyTrainer.train(docs.toDS(), Map(0 -> vocab, 1 -> vocab), PolyTrainer.Config(numTopics = k,
        maxIterations = 3, localIterations = sweeps, convergence = 0.0,
        betaBroadcastMaxEntries = ceiling, checkpointDir = Some(dir))), dir)
    }
    val (broadcastM, broadcastDir) = trainTo(4L << 20)
    val (slicedM, slicedDir) = trainTo(0L)
    assert(broadcastM.llHistory.map(java.lang.Double.doubleToRawLongBits) ==
      slicedM.llHistory.map(java.lang.Double.doubleToRawLongBits))
    assertBitIdentical(broadcastM, broadcastDir, slicedM, slicedDir, 3)
  }

  test("polylingual train 2 + resume 2 ≡ train 4 straight") {
    val r = PolyParseCorpus.run(corpus, PolyParseCorpus.Config(numLanguages = 2))
    val numTerms = r.terms.collect().groupBy(_.lang).map { case (l, ts) => l -> ts.length }
    val dir = TempDirs.create("graft_poly_ckpt_").toString
    val base = PolyTrainer.Config(numTopics = 2, maxIterations = 4, localIterations = 15,
      seed = 3L, convergence = 0.0)
    val straight = PolyTrainer.train(r.docs, numTerms, base)
    PolyTrainer.train(r.docs, numTerms,
      base.copy(maxIterations = 2, checkpointDir = Some(dir)))
    val resumed = PolyTrainer.train(r.docs, numTerms,
      base.copy(resumeFrom = Some((dir, 2))))
    assert(resumed.llHistory.length == straight.llHistory.length)
    straight.llHistory.zip(resumed.llHistory).foreach { case (a, b) =>
      assert(math.abs((a - b) / a) < 1e-8, s"LL drift after resume: $a vs $b") }
    straight.alpha.zip(resumed.alpha).foreach { case (a, b) =>
      assert(math.abs((a - b) / a) < 1e-6, s"alpha drift after resume: $a vs $b") }
  }

  test("polylingual SHUFFLE-mode train 2 + resume 2 ≡ straight 4") {
    // exercises the fused iteration's snapshot writer (per-language packed
    // beta unpacked via posexplode) and the shuffle-mode resume loader
    val r = PolyParseCorpus.run(corpus, PolyParseCorpus.Config(numLanguages = 2))
    val numTerms = r.terms.collect().groupBy(_.lang).map { case (l, ts) => l -> ts.length }
    val dir = TempDirs.create("graft_poly_ckpt_sh_").toString
    val base = PolyTrainer.Config(numTopics = 2, maxIterations = 4, localIterations = 15,
      seed = 3L, convergence = 0.0, betaBroadcastMaxEntries = 0L)
    val straight = PolyTrainer.train(r.docs, numTerms, base)
    PolyTrainer.train(r.docs, numTerms,
      base.copy(maxIterations = 2, checkpointDir = Some(dir)))
    val resumed = PolyTrainer.train(r.docs, numTerms,
      base.copy(resumeFrom = Some((dir, 2))))
    assert(resumed.llHistory.length == straight.llHistory.length)
    straight.llHistory.zip(resumed.llHistory).foreach { case (a, b) =>
      assert(math.abs((a - b) / a) < 1e-8, s"LL drift after shuffle resume: $a vs $b") }
    straight.beta.foreach { case (l, tm) =>
      tm.foreach { case (w, arr) =>
        arr.zip(resumed.beta(l)(w)).foreach { case (a, b) =>
          assert(math.abs(a - b) < 1e-6, s"beta drift lang=$l term=$w: $a vs $b") }
      }
    }
  }

  test("polylingual held-out inference: doc gamma leans to its cluster topic") {
    val r = PolyParseCorpus.run(corpus, PolyParseCorpus.Config(numLanguages = 2))
    val numTerms = r.terms.collect().groupBy(_.lang).map { case (l, ts) => l -> ts.length }
    val m = PolyTrainer.train(r.docs, numTerms,
      PolyTrainer.Config(numTopics = 2, maxIterations = 10, localIterations = 30, seed = 3L))
    val (gamma, ll) = PolyTrainer.infer(r.docs, m, localIterations = 30)
    assert(gamma.count() == 10 && !ll.isNaN && !ll.isInfinite)
    val g = gamma.as[(Long, Array[Double])].collect().toMap
    def topTopic(d: Long) = g(d).zipWithIndex.maxBy(_._1)._2
    // docs 0-4 (fruit) should share a dominant topic, 5-9 (metal) the other
    assert((0L to 4L).map(topTopic).toSet.size == 1)
    assert((5L to 9L).map(topTopic).toSet.size == 1)
    assert(topTopic(0L) != topTopic(5L))
  }
}
