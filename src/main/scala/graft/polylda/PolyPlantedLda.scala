package graft.polylda

import graft.lda.{EmCore, PlantedLda}
import graft.model.PolyDoc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The polylingual twin of [[graft.lda.PlantedLda]]: a planted two-
 * "language" micro-corpus (language 0 = words lexicographically below
 * "n", language 1 = the rest — a deterministic SQL-expressible split)
 * run through the REAL polylda operators — the EM core's E-step with the
 * fixture-only anchor knobs, the distributed (lang, topic, term)
 * logsumexp fold, and the driver-side M-step tail (eta-FREE
 * M-step with the -700 underflow floor, the polylda reducer's
 * semantics per cc/mrlda/polylda/TermReducer.java:84-119) — with every
 * handoff rounding-anchored so DuckDB replays the trajectory
 * ([[graft.queries.LdaPlantedOracle.polySql]]). The fixture is
 * [[graft.lda.PlantedLda]]'s, with two languages of `VocabPerLang` words.
 */
object PolyPlantedLda {

  import PlantedLda.{Alpha, BetaDp, EmIters, K, VocabPerLang, anchoredEm, initBeta, polyCorpus,
    sweeps}

  /** Tidy rows: ('beta', lang, topic, termId, value 8dp) for the final
    * per-language model and ('gamma', -1, k+1, docId, gamma_k 8dp). */
  def run(spark: SparkSession, dir: String, useShuffle: Boolean = false): DataFrame = {
    import spark.implicits._
    // the driver tail applies the polylda reducer's -700 underflow floor
    val (beta, finalRows) = anchoredEm(spark,
      polyCorpus(spark, dir, when(col("word") < "n", 0).otherwise(1), VocabPerLang), PolyDocs,
      EmCore.Smoothing.floor, initBeta(2, VocabPerLang),
      PolyTrainer.vocab(Map(0 -> VocabPerLang, 1 -> VocabPerLang)),
      (d: PolyDoc, g: Map[Long, Array[Double]]) => d.copy(gamma = Some(g(d.docId))),
      Array.fill(K)(Alpha), EmIters, sweeps(learning = true), BetaDp, useShuffle)

    val betaRows = beta.iterator.toSeq.flatMap { case (w, arr) =>
      arr.zipWithIndex.map { case (e, t) =>
        ("beta", EmCore.langOf(w), t + 1, EmCore.termOf(w).toLong, e)
      }
    }
    val gammaRows = finalRows.toSeq.flatMap { case (d, g, _) =>
      g.zipWithIndex.map { case (v, t) => ("gamma", -1, t + 1, d, v) }
    }
    (betaRows ++ gammaRows)
      .toDF("kind", "lang", "topic", "idx", "value")
      .orderBy($"kind", $"lang", $"topic", $"idx")
  }
}
