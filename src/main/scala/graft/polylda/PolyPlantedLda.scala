package graft.polylda

import graft.functions.LogSumExp.logsumexp
import graft.lda.EmCore
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
 * ([[graft.queries.LdaPlantedOracle.polySql]]).
 */
object PolyPlantedLda {

  case class Cfg(
      k: Int = 2,
      vocabPerLang: Int = 10,
      maxDocId: Long = 30,
      emIters: Int = 3,
      sweeps: Int = 3,
      alpha: Double = 0.5,
      gammaDp: Int = 8,
      phiDp: Int = 10,
      betaDp: Int = 8,
      /** supply beta to the E-step as a joined table (the per-language
        * beta-as-table scale path); same oracle — see
        * [[graft.lda.PlantedLda.Cfg.useShuffle]]. */
      useShuffle: Boolean = false)

  private def rnd(x: Double, dp: Int): Double =
    BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Planted per-language init:
    * round(-ln V_l + ((7w + 3t + 5l) mod 11 - 5)/100, 8). */
  private[polylda] def initBeta(cfg: Cfg): Map[Int, scala.collection.Map[Int, Array[Double]]] =
    (0 until 2).map { l =>
      l -> (0 until cfg.vocabPerLang).map { w =>
        w -> Array.tabulate(cfg.k)(t =>
          rnd(-math.log(cfg.vocabPerLang.toDouble) +
            ((w * 7 + t * 3 + l * 5) % 11 - 5) / 100.0, cfg.betaDp))
      }.toMap.asInstanceOf[scala.collection.Map[Int, Array[Double]]]
    }.toMap

  private[polylda] def corpus(spark: SparkSession, dir: String, cfg: Cfg): Seq[PolyDoc] = {
    import spark.implicits._
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < cfg.maxDocId)
      .select(col("doc_id").cast("long").as("doc"),
        explode(filter(split(lower(col("text")), " "), w => w =!= "")).as("word"))
      .withColumn("lang", when(col("word") < "n", 0).otherwise(1))
    val vocab: Map[(Int, String), Int] = words
      .groupBy($"lang", $"word").agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
      .toSeq
      .flatMap { case (l, rows) =>
        rows.toSeq.sortBy(r => (-r._3, r._2)).take(cfg.vocabPerLang)
          .zipWithIndex.map { case ((_, w, _), i) => (l, w) -> i }
      }.toMap
    val vocabBc = spark.sparkContext.broadcast(vocab)
    words.select($"doc", $"lang", $"word").as[(Long, Int, String)]
      .flatMap { case (d, l, w) => vocabBc.value.get((l, w)).map(t => (d, l, t)) }
      .groupByKey(_._1)
      .mapGroups { (d, it) =>
        val m = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Map[Int, Int]]
        it.foreach { case (_, l, t) =>
          val lm = m.getOrElseUpdate(l, scala.collection.mutable.Map.empty)
          lm(t) = lm.getOrElse(t, 0) + 1
        }
        val counts = m.map { case (l, lm) => l -> lm.toMap }.toMap
        val numTokens = counts.map { case (l, lm) => l -> lm.valuesIterator.map(_.toLong).sum }
        PolyDoc(d, counts, numTokens, numTokens.valuesIterator.sum)
      }
      .collect().toSeq.sortBy(_.docId)
  }

  /** Tidy rows: ('beta', lang, topic, termId, value 8dp) for the final
    * per-language model and ('gamma', -1, k+1, docId, gamma_k 8dp). */
  def run(spark: SparkSession, dir: String, cfg: Cfg = Cfg()): DataFrame = {
    import spark.implicits._
    val alphaBc = spark.sparkContext.broadcast(Array.fill(cfg.k)(cfg.alpha))
    var beta = initBeta(cfg)
    var docs: Seq[PolyDoc] = corpus(spark, dir, cfg)
    var finalGammas: Array[(Long, Array[Double])] = Array.empty
    val numTermsPerLang = Map(0 -> cfg.vocabPerLang, 1 -> cfg.vocabPerLang)

    for (iter <- 1 to cfg.emIters) {
      val betaBc = spark.sparkContext.broadcast(beta)
      val supply =
        if (cfg.useShuffle)
          EmCore.Join(beta.toSeq.flatMap { case (l, m) =>
            m.toSeq.map { case (w, arr) => (l, w, arr) }
          }.toDF("lang", "termId", "elogbeta"), None)
        else PolyTrainer.lookup(betaBc)
      val estep = EmCore.estep(docs.toDS(), PolyDocs, alphaBc, supply,
        PolyTrainer.vocab(numTermsPerLang),
        EmCore.Sweeps(cfg.sweeps + 1, randomStartGamma = false, learning = true, seed = 42L,
          anchorGammaDp = cfg.gammaDp, anchorPhiDp = cfg.phiDp))
        .persist()
      // the real distributed fold, anchored at collect; the driver tail
      // applies the polylda reducer's -700 underflow floor
      // (EmCore.Smoothing.floor)
      val lambda = EmCore.explodePhi(estep.toDF(), PolyDocs.keys)
        .groupBy($"lang", $"topic", $"termId")
        .agg(logsumexp($"logphi").as("lp"))
        .collect()
        .map(r => (r.getAs[Int]("lang"), r.getAs[Int]("topic"), r.getAs[Int]("termId"),
          rnd(r.getAs[Double]("lp"), cfg.betaDp)))
      val (_, rows) = EmCore.finishBetaOnDriver(lambda, cfg.k, EmCore.Smoothing.floor.driver)
      val nextBeta = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Map[Int, Array[Double]]]
      rows.foreach { case (l, t, w, e) =>
        nextBeta.getOrElseUpdate(l, scala.collection.mutable.Map.empty)
          .getOrElseUpdate(w, new Array[Double](cfg.k))(t - 1) = rnd(e, cfg.betaDp)
      }
      beta = nextBeta.map { case (l, m) =>
        l -> (m.toMap: scala.collection.Map[Int, Array[Double]])
      }.toMap
      val docRows = estep.filter($"isDoc")
        .select($"docId", $"gamma").as[(Long, Array[Double])].collect()
      estep.unpersist()
      betaBc.destroy()
      val gmap = docRows.toMap
      docs = docs.map(d => d.copy(gamma = Some(gmap(d.docId))))
      if (iter == cfg.emIters) finalGammas = docRows.sortBy(_._1)
    }

    val betaRows = beta.toSeq.flatMap { case (l, m) =>
      m.toSeq.flatMap { case (w, arr) =>
        arr.zipWithIndex.map { case (e, t) => ("beta", l, t + 1, w.toLong, e) }
      }
    }
    val gammaRows = finalGammas.toSeq.flatMap { case (d, g) =>
      g.zipWithIndex.map { case (v, t) => ("gamma", -1, t + 1, d, v) }
    }
    (betaRows ++ gammaRows)
      .toDF("kind", "lang", "topic", "idx", "value")
      .orderBy($"kind", $"lang", $"topic", $"idx")
  }
}
