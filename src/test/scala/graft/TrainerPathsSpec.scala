package graft

import graft.corpus.ParseCorpus
import graft.lda.{EmCore, LdaCheckpoint, Trainer}
import graft.model.Doc

/**
 * The two Trainer scale paths and persistence:
 *  - sliced-β E-step ≡ broadcast E-step (same LL trajectory/model; bit for
 *    bit over a corpus of several partitions and reducers);
 *  - checkpoint + resume ≡ an uninterrupted run (reference `-modelindex`).
 */
class TrainerPathsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = {
    val fruit = Seq("apple banana cherry", "banana apple apple", "cherry banana fruit",
      "apple fruit fruit cherry", "banana banana apple")
    val metal = Seq("iron copper zinc", "copper iron iron", "zinc copper metal",
      "iron metal metal zinc", "copper copper zinc")
    (fruit ++ metal).zipWithIndex.map { case (t, i) => (i.toLong, s"d$i", t) }
      .toDF("docId", "title", "text")
  }

  test("shuffle-join E-step matches the broadcast path (LL trajectory + alpha)") {
    val parsed = ParseCorpus.run(corpus)
    val base = Trainer.Config(numTopics = 2, maxIterations = 4, localIterations = 15, seed = 42L)
    val broadcastM = Trainer.train(parsed.docs, parsed.stats.numTerms.toInt, base)
    // force the shuffle path by setting the broadcast ceiling to zero
    val shuffleM = Trainer.train(parsed.docs, parsed.stats.numTerms.toInt,
      base.copy(betaBroadcastMaxEntries = 0L))

    assert(broadcastM.llHistory.length == shuffleM.llHistory.length)
    broadcastM.llHistory.zip(shuffleM.llHistory).foreach { case (a, b) =>
      assert(math.abs((a - b) / a) < 1e-8, s"LL drift between paths: $a vs $b") }
    broadcastM.alpha.zip(shuffleM.alpha).foreach { case (a, b) =>
      assert(math.abs((a - b) / a) < 1e-6, s"alpha drift between paths: $a vs $b") }
    // same beta up to FP reduction order
    assert(broadcastM.beta.keySet == shuffleM.beta.keySet)
    broadcastM.beta.foreach { case (w, arr) =>
      arr.zip(shuffleM.beta(w)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-6, s"beta drift for term $w: $a vs $b") }
    }
    // and bit for bit: both lookups share one λ fold and one normaliser
    assert(bits(broadcastM.llHistory) == bits(shuffleM.llHistory))
    broadcastM.beta.foreach { case (w, arr) => assert(bits(arr) == bits(shuffleM.beta(w)), s"beta of term $w") }
  }

  /** `n` documents of 60 distinct terms each out of `vocab` */
  private def wide(n: Int, vocab: Int): Seq[Doc] = {
    val rng = new scala.util.Random(11L)
    (0 until n).map { d =>
      val counts = Iterator.continually(1 + rng.nextInt(vocab)).distinct.take(60)
        .map(_ -> (1 + rng.nextInt(4))).toMap
      Doc(d.toLong, counts, counts.valuesIterator.map(_.toLong).sum)
    }
  }

  private def bits(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToRawLongBits)

  /** a beta-<i> snapshot: (topic, termId) → the bits of E[log β] */
  private def snapshot(dir: String, i: Int): Map[(Int, Int), Long] =
    LdaCheckpoint.loadBeta(spark, dir, i).select($"topic", $"termId", $"elogbeta")
      .as[(Int, Int, Double)].collect()
      .map { case (t, w, e) => (t, w) -> java.lang.Double.doubleToRawLongBits(e) }.toMap

  test("both beta lookups are bit-identical over several partitions and reducers") {
    val (k, sweeps, vocab) = (20, 20, 3000)
    val docs = wide(400, vocab)
    val nnz = docs.map(_.counts.size.toLong).sum
    val parts = EmCore.partitionsFor(docs.size, nnz, k, sweeps)
    assert(parts > 1 && EmCore.reducersFor(nnz * k, parts) > 1)
    def trainTo(ceiling: Long) = {
      val dir = TempDirs.create("graft_lookups_").toString
      (Trainer.train(docs.toDS(), vocab, Trainer.Config(numTopics = k, maxIterations = 3,
        localIterations = sweeps, convergence = 0.0, betaBroadcastMaxEntries = ceiling,
        checkpointDir = Some(dir))), dir)
    }
    val (broadcastM, broadcastDir) = trainTo(4L << 20)
    val (slicedM, slicedDir) = trainTo(0L)
    assert(bits(broadcastM.llHistory) == bits(slicedM.llHistory))
    assert(bits(broadcastM.alpha) == bits(slicedM.alpha))
    for (i <- 1 to 3) {
      val b = snapshot(broadcastDir, i)
      assert(b.size == broadcastM.beta.size * k && b == snapshot(slicedDir, i), s"beta-$i")
    }
    assert(broadcastM.beta.keySet == slicedM.beta.keySet)
    broadcastM.beta.foreach { case (w, arr) => assert(bits(arr) == bits(slicedM.beta(w)), s"beta of term $w") }
  }

  test("train 3 + resume 2 ≡ train 5 straight (checkpoint round-trip)") {
    val parsed = ParseCorpus.run(corpus)
    val dir = TempDirs.create("graft_ckpt_").toString
    val base = Trainer.Config(numTopics = 2, maxIterations = 5, localIterations = 15,
      seed = 42L, convergence = 0.0) // disable early stop so both run all 5
    val straight = Trainer.train(parsed.docs, parsed.stats.numTerms.toInt, base)

    Trainer.train(parsed.docs, parsed.stats.numTerms.toInt,
      base.copy(maxIterations = 3, checkpointDir = Some(dir)))
    val resumed = Trainer.train(parsed.docs, parsed.stats.numTerms.toInt,
      base.copy(resumeFrom = Some((dir, 3))))

    assert(resumed.iterations == straight.iterations)
    assert(resumed.llHistory.length == straight.llHistory.length,
      s"${resumed.llHistory} vs ${straight.llHistory}")
    straight.llHistory.zip(resumed.llHistory).foreach { case (a, b) =>
      assert(math.abs((a - b) / a) < 1e-8, s"LL drift after resume: $a vs $b") }
    straight.alpha.zip(resumed.alpha).foreach { case (a, b) =>
      assert(math.abs((a - b) / a) < 1e-6, s"alpha drift after resume: $a vs $b") }
  }

  test("SHUFFLE-mode train 3 + resume 2 ≡ straight 5 (snapshot unpack + reload)") {
    // exercises the fused iteration's snapshot writer (the packed beta is
    // unpacked back to (topic, termId, elogbeta) rows via posexplode) and
    // the shuffle-mode resume loader that re-packs it
    val parsed = ParseCorpus.run(corpus)
    val dir = TempDirs.create("graft_ckpt_sh_").toString
    val base = Trainer.Config(numTopics = 2, maxIterations = 5, localIterations = 15,
      seed = 42L, convergence = 0.0, betaBroadcastMaxEntries = 0L)
    val straight = Trainer.train(parsed.docs, parsed.stats.numTerms.toInt, base)

    Trainer.train(parsed.docs, parsed.stats.numTerms.toInt,
      base.copy(maxIterations = 3, checkpointDir = Some(dir)))
    val resumed = Trainer.train(parsed.docs, parsed.stats.numTerms.toInt,
      base.copy(resumeFrom = Some((dir, 3))))

    assert(resumed.iterations == straight.iterations)
    assert(resumed.llHistory.length == straight.llHistory.length,
      s"${resumed.llHistory} vs ${straight.llHistory}")
    straight.llHistory.zip(resumed.llHistory).foreach { case (a, b) =>
      assert(math.abs((a - b) / a) < 1e-8, s"LL drift after shuffle resume: $a vs $b") }
    straight.beta.foreach { case (w, arr) =>
      arr.zip(resumed.beta(w)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-6, s"beta drift for term $w: $a vs $b") }
    }
  }

  test("shuffle E-step keeps empty-count documents (parity with broadcast)") {
    import graft.model.Doc
    val parsed = ParseCorpus.run(corpus)
    val withEmpty = (parsed.docs.collect().toSeq :+ Doc(99L, Map.empty, 0L, None)).toDS()
    val base = Trainer.Config(numTopics = 2, maxIterations = 2, localIterations = 10,
      seed = 42L, convergence = 0.0)
    val b = Trainer.train(withEmpty, parsed.stats.numTerms.toInt, base)
    val s = Trainer.train(withEmpty, parsed.stats.numTerms.toInt,
      base.copy(betaBroadcastMaxEntries = 0L))
    b.llHistory.zip(s.llHistory).foreach { case (x, y) =>
      assert(math.abs((x - y) / x) < 1e-8, s"LL drift with empty doc: $x vs $y") }
  }

  test("early convergence still writes a final snapshot") {
    val parsed = ParseCorpus.run(corpus)
    val dir = TempDirs.create("graft_ckpt_early_").toString
    // convergence=1.0 stops at the first comparable iteration (iteration 2),
    // long before maxIterations
    val m = Trainer.train(parsed.docs, parsed.stats.numTerms.toInt,
      Trainer.Config(numTopics = 2, maxIterations = 30, localIterations = 10,
        seed = 42L, convergence = 1.0, checkpointDir = Some(dir)))
    assert(m.iterations < 30)
    assert(new java.io.File(s"$dir/alpha-${m.iterations}").exists(),
      s"final snapshot alpha-${m.iterations} missing")
    assert(new java.io.File(s"$dir/gamma-${m.iterations}").exists())
  }

  test("randomStartGamma re-initializes gamma every iteration (no warm start)") {
    val parsed = ParseCorpus.run(corpus)
    val cfg = Trainer.Config(numTopics = 2, maxIterations = 3, localIterations = 10,
      seed = 42L, randomStartGamma = true, convergence = 0.0)
    val m = Trainer.train(parsed.docs, parsed.stats.numTerms.toInt, cfg)
    assert(m.llHistory.length == 3)
    assert(m.llHistory.forall(ll => !ll.isNaN && !ll.isInfinite))
  }
}
