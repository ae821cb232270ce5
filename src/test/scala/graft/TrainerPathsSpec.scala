package graft

import graft.corpus.ParseCorpus
import graft.lda.Trainer

/**
 * The two Trainer scale paths and persistence:
 *  - shuffle-join E-step ≡ broadcast E-step (same LL trajectory/model);
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
  }

  test("train 3 + resume 2 ≡ train 5 straight (checkpoint round-trip)") {
    val parsed = ParseCorpus.run(corpus)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
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
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_sh_").toString
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
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_early_").toString
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
