package graft

import graft.lda.PlantedLda
import graft.lda.PlantedLda.{Alpha, K, Vocab}

/** The planted micro-LDA EM (the DuckDB-replayable trajectory behind
  * q_lda_planted_em): structural invariants the hash oracle can't
  * explain on its own — determinism, variational mass conservation,
  * and that the EM actually moves the model off its planted init. */
class PlantedLdaSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private lazy val out = PlantedLda.run(spark, dir).collect()

  test("deterministic across runs (anchored handoffs, fixed init)") {
    val again = PlantedLda.run(spark, dir).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("shape: beta covers topics x vocab, gammas cover topics x docs") {
    val beta = out.filter(_.getString(0) == "beta")
    val gamma = out.filter(_.getString(0) == "gamma")
    assert(beta.length == K * Vocab)
    assert(gamma.length % K == 0 && gamma.nonEmpty)
    // every topic appears, ids are 1-based
    assert(beta.map(_.getInt(1)).distinct.sorted.toSeq == (1 to K))
  }

  test("gamma mass conservation: sum_k gamma_dk = K*alpha + numTokens (anchored)") {
    val docs = PlantedLda.corpus(spark, dir)
    val byDoc = out.filter(_.getString(0) == "gamma")
      .groupBy(_.getLong(2)).view.mapValues(_.map(_.getDouble(3)).sum).toMap
    docs.foreach { d =>
      val expected = K * Alpha + d.numTokens.toDouble
      // each of the K addends carries at most half an 8dp-anchor of slack
      assert(math.abs(byDoc(d.docId) - expected) < K * 5e-9 + 1e-9,
        s"doc ${d.docId}: ${byDoc(d.docId)} vs $expected")
    }
  }

  test("per-topic E[log beta] normalizes: sum_w exp(elogbeta) stays in (0, 1]") {
    // E[log beta] = psi(lambda_w) - psi(sum lambda) lies strictly below
    // the log of the mean-parameter simplex, so the exp-sum is < 1 but
    // must stay well away from 0 (degenerate topic) — a cheap sanity
    // band on the M-step tail
    out.filter(_.getString(0) == "beta").groupBy(_.getInt(1)).foreach {
      case (_, rows) =>
        val s = rows.map(r => math.exp(r.getDouble(3))).sum
        assert(s > 0.3 && s <= 1.0, s"topic exp-sum $s")
    }
  }

  test("broadcast and shuffle E-steps produce the IDENTICAL anchored trajectory") {
    val shuffled = PlantedLda.run(spark, dir, useShuffle = true).collect()
    assert(out.map(_.toString).toSeq == shuffled.map(_.toString).toSeq,
      "anchored handoffs must make the trajectory execution-path-independent")
  }

  test("alphaRows: Newton outputs are positive, finite, and deterministic") {
    val a1 = PlantedLda.alphaRows(spark, dir).collect()
    val a2 = PlantedLda.alphaRows(spark, dir).collect()
    assert(a1.map(_.toString).toSeq == a2.map(_.toString).toSeq)
    assert(a1.count(_.getString(0) == "vec") == K)
    assert(a1.count(_.getString(0) == "scalar") == 1)
    assert(a1.count(_.getString(0) == "ss") == K)
    a1.filter(r => r.getString(0) == "vec" || r.getString(0) == "scalar").foreach { r =>
      val v = r.getDouble(2)
      assert(v > 0 && java.lang.Double.isFinite(v), s"$r")
    }
    // the vector update moved off the symmetric 0.5 start
    assert(a1.filter(_.getString(0) == "vec").forall(_.getDouble(2) > 0.6))
  }

  test("llRows: one finite negative LL per kept document") {
    val lls = PlantedLda.llRows(spark, dir).collect()
    val docs = PlantedLda.corpus(spark, dir)
    assert(lls.length == docs.length)
    lls.foreach { r =>
      val v = r.getDouble(1)
      assert(java.lang.Double.isFinite(v) && v < 0, s"$r")
    }
  }

  test("EM moves the model: final beta differs from the planted init") {
    val init = PlantedLda.initBeta(numLangs = 1, Vocab)
    val moved = out.filter(_.getString(0) == "beta").count { r =>
      math.abs(r.getDouble(3) - init(r.getLong(2).toInt)(r.getInt(1) - 1)) > 1e-4
    }
    assert(moved > Vocab, s"only $moved beta entries moved")
  }
}
