package graft

import graft.corpus.ParseCorpus
import graft.functions.LogSumExp.logsumexp
import graft.lda.{EStep, EmCore, MStep}
import graft.lda.EmCore.Smoothing
import graft.polylda.PolyDocs
import org.apache.spark.sql.functions._

/** The fused broadcast-mode iteration must reproduce the distributed
  * M-step exactly: same E[log beta] per (topic, term), same likelihood and
  * alpha statistics as the unfused jobs — for each smoothing (eta without
  * and with an informed prior, and the polylingual -700 floor). */
class FusedMStepSpec extends SparkSpec {
  import spark.implicits._

  private def estepOut = {
    val docs = Seq(
      "apple banana cherry apple", "banana apple zinc", "cherry banana fruit apple",
      "iron copper zinc", "copper iron iron banana", "zinc copper metal")
      .zipWithIndex.map { case (t, i) => (i.toLong, s"d$i", t) }
      .toDF("docId", "title", "text")
    val parsed = ParseCorpus.run(docs)
    val k = 3
    val alphaBc = spark.sparkContext.broadcast(Array.fill(k)(0.1))
    val betaBc = spark.sparkContext.broadcast(
      Map.empty: scala.collection.Map[Int, Array[Double]])
    (EStep.run(parsed.docs, alphaBc, betaBc, parsed.stats.numTerms.toInt,
      localIterations = 10, randomStartGamma = false, learning = true, seed = 7L)
      .persist(), k)
  }

  test("fused iteration equals the distributed M-step and stats jobs") {
    val (estep, k) = estepOut
    try {
      // distributed path
      val betaDistributed = MStep.run(MStep.explodePhi(estep.toDF()), None)
        .collect()
        .map(r => (r.getAs[Int]("topic"), r.getAs[Int]("termId")) -> r.getAs[Double]("elogbeta"))
        .toMap
      val (llD, ssD) = MStep.llAndAlphaStats(estep.filter($"isDoc").toDF(), k)

      // fused path
      val (llF, ssF, lambda) = MStep.splitFused(
        MStep.fusedIterationRows(estep.toDF()).collect(), k)
      val (betaMap, rows) = MStep.finishBetaOnDriver(lambda, k, None)

      assert(math.abs(llF - llD) < 1e-9)
      ssD.zip(ssF).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
      assert(rows.size == betaDistributed.size)
      rows.foreach { case (topic, termId, e) =>
        assert(math.abs(e - betaDistributed((topic, termId))) < 1e-9,
          s"mismatch at ($topic, $termId)")
      }
      // the driver map agrees with the row form
      rows.foreach { case (topic, termId, e) =>
        assert(betaMap(termId)(topic - 1) == e)
      }
    } finally estep.unpersist()
  }

  /** (key, topic) → elogbeta rows of the table M-step vs the driver map. */
  private def assertSame(table: Map[(Int, Int, Int), Double],
      driver: scala.collection.Map[Long, Array[Double]]): Unit = {
    assert(table.size == driver.valuesIterator.map(_.length).sum)
    driver.foreach { case (w, arr) =>
      assert(arr.length == 3)
      arr.zipWithIndex.foreach { case (e, t) =>
        val d = table((EmCore.langOf(w), t + 1, EmCore.termOf(w)))
        assert(math.abs(e - d) < 1e-9, s"mismatch at (${EmCore.langOf(w)}, ${t + 1}, " +
          s"${EmCore.termOf(w)}): $e vs $d")
      }
    }
  }

  test("informed-prior eta: the table M-step equals the driver tail") {
    val (estep, k) = estepOut
    try {
      // a pair listed twice is one seed: one row per (topic, term) either way
      val prior = Seq((1, 1), (1, 1), (2, 3), (3, 2)).toDF("topic", "termId")
      val table = MStep.run(MStep.explodePhi(estep.toDF()), Some(prior))
        .select($"topic", $"termId", $"elogbeta").as[(Int, Int, Double)].collect()
      val (_, _, lambda) = MStep.splitFused(MStep.fusedIterationRows(estep.toDF()).collect(), k)
      val (betaMap, _) = MStep.finishBetaOnDriver(lambda, k, Some(Set((1, 1), (2, 3), (3, 2))))
      assertSame(table.map { case (t, w, e) => (0, t, w) -> e }.toMap,
        betaMap.map { case (w, arr) => EmCore.key(0, w) -> arr })
      // the seeded pair's eta boost shows against its unseeded twin
      assert(betaMap(1)(0) > betaMap(1)(1))
    } finally estep.unpersist()
  }

  test("polylingual -700 floor: the table M-step equals the driver tail") {
    val (estep, k) = estepOut
    try {
      // two languages, and every even term's topic-2 phi sunk below the
      // floor, so some of each topic's lambda is floored and some is not
      val phi = MStep.explodePhi(estep.toDF())
        .select(($"termId" % 2).as("lang"), $"topic", $"termId",
          when($"topic" === 2 && $"termId" % 2 === 0, $"logphi" - 800.0)
            .otherwise($"logphi").as("logphi"))
      val table = EmCore.mstepRows(phi, PolyDocs.keys, Smoothing.floor)
        .select($"lang", $"topic", $"termId", $"elogbeta").as[(Int, Int, Int, Double)].collect()
      val lambda = phi.groupBy($"lang", $"topic", $"termId").agg(logsumexp($"logphi").as("lp"))
        .as[(Int, Int, Int, Double)].collect()
      val driver = EmCore.finishBetaOnDriver(lambda, k, Smoothing.floor)
      assert(lambda.exists(_._4 < -700.0) && lambda.exists(_._4 > -700.0))
      assert(driver.valuesIterator.exists(_(1) < -1e300), "no floored entry")
      assertSame(table.map { case (l, t, w, e) => (l, t, w) -> e }.toMap, driver)
    } finally estep.unpersist()
  }
}
